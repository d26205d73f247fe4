"""Run one benchmark workload and print its metrics as one JSON line.

    python3 erbench/run.py --workload er_sparse --seed 1 --seconds 10 --trace 0

Run it from the root of a repository checkout: the engine (``ccer/``) is
imported from there and every file the run writes stays under
``erbench/.work``. Workloads, metrics and bounds are declared in
``BENCHMARK.json``; ``erbench/workloads.py`` says what each workload does.

Execution shape (pinned here, whatever the caller's environment says):
one driver process on ``local[nproc]``, a 3 GB driver heap plus 1 GB
off-heap, shuffle partitions = cores, reused Python workers, and Spark's
local dir, warehouse and temp files inside the work directory. The first
call of each entry point is made in set-up and is never timed.

``--trace 0`` prints the end-to-end metrics: medians over the timed
iterations, the workload's ``iterations`` and more until ``--seconds``
have passed. ``--trace 1`` times a single iteration (its wall is the
untraced baseline of the tracing overhead), then restarts the session with
Spark's event log on, runs one traced iteration and prints the per-layer
metrics instead. A context line (host capacity before and after, steal,
per-iteration samples) precedes the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# pages generated per workload: at this size a whole run (session start,
# input generation, warm-up calls, one timed iteration) takes 35-80 s on a
# 4-vCPU guest, which the benchmark's run budget requires. Every call is
# then mostly per-call fixed cost: in one host window the timed er_sparse
# pipeline call took 10-13 s at 6.4k pages against 9-13 s at 1.6k.
PAGES = {"er_sparse": 1600, "curation": 2000}
DRIVER_MEM = "3g"
OFFHEAP = "1g"
# host-capacity probe size: a tenth of ccer.hostcap's default burn, so the
# two samples per run cost about a second each
CAPACITY_BURN_ITERS = 2_000_000

END_TO_END_UNITS = {
    "setup_s": "s",
    "pages_per_s": "1/s",
    "batch_latency_s": "s",
    "resume_s": "s",
    "cpu_s": "s",
    "peak_mem_mb": "MB",
    "stage_store_mb": "MB",
    "pairwise_f1": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--pages", type=int, default=None, help="override the input size (smoke tests)")
    p.add_argument("--corrupt", action="store_true",
                   help="alter one output before it is checked (proves the checks fail)")
    return p.parse_args(argv)


def pin_environment(work: str) -> None:
    """Execution shape and file locations, set before the JVM starts."""
    for key in [k for k in os.environ if k.startswith("CCER_")]:
        del os.environ[key]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        CCER_DRIVER_MEM=DRIVER_MEM,
        CCER_OFFHEAP_SIZE=OFFHEAP,
        CCER_LOCAL_DIR=os.path.join(work, "spark-local"),
        CCER_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        # inputs here are a few MB: reuse Python workers, as the engine's
        # own tests do for small data (the fresh-worker default exists for
        # multi-GB Arrow batches and here only adds spawn latency)
        CCER_PY_WORKER_REUSE="true",
        # every JVM (the spark-submit launcher too) keeps its temp files in
        # the work dir and writes no hsperfdata file to /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TMPDIR=tmp,
    )
    import tempfile

    tempfile.tempdir = tmp


def start_spark(workload: str, cores: int, event_dir: str | None = None):
    """The pinned session; with ``event_dir``, Spark's event log is on."""
    from ccer.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false"}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})
    # shuffle partitions = cores, as bench.py runs the engine
    return get_spark(app_name=f"erbench-{workload}", cores=cores,
                     shuffle_partitions=cores, extra_conf=conf)


def capacity(cores: int) -> dict:
    from ccer import hostcap

    hostcap.BURN_ITERS = CAPACITY_BURN_ITERS
    sample = hostcap.capacity_sample(cores)
    sample["burn_iters"] = CAPACITY_BURN_ITERS
    return sample


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for every process
    this run started (JVM, PySpark daemon, workers) to exit."""
    from pyspark import SparkContext

    from erbench.probes import descendants

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while len(descendants(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid())[1:]:
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def median_of(samples: list[dict], key: str) -> float:
    values = [s[key] for s in samples if key in s]
    return statistics.median(values) if values else 0.0


def run(args) -> dict:
    from erbench.probes import PeakMemory, cpu_times
    from erbench.tracing import Tracer
    from erbench.workloads import WORKLOADS, Check

    cls = WORKLOADS[args.workload]
    cores = os.cpu_count() or 1
    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    pin_environment(work)
    context = {"workload": args.workload, "seed": args.seed, "cores": cores,
               "driver_mem": DRIVER_MEM, "offheap": OFFHEAP,
               "capacity_before": capacity(cores)}

    t0 = time.perf_counter()
    spark = start_spark(args.workload, cores)
    check = Check()
    tracer = Tracer()
    try:
        session_s = time.perf_counter() - t0
        wl = cls(spark, work, args.seed, args.pages or PAGES[args.workload], tracer)
        t1 = time.perf_counter()
        wl.materialize()
        materialize_s = time.perf_counter() - t1
        t2 = time.perf_counter()
        wl.warm_up(check)
        warmup_s = time.perf_counter() - t2
        context.update(session_s=session_s, materialize_s=materialize_s, warmup_s=warmup_s)

        samples, steal = [], []
        spill_dir = os.environ["CCER_LOCAL_DIR"]
        loop_start = time.perf_counter()
        with PeakMemory(spill_dir) as mem:
            i = 0
            while True:
                steal0 = cpu_times()["steal"]
                samples.append(_guarded(wl, i, check, args.corrupt, batch=i < wl.batches))
                steal.append(cpu_times()["steal"] - steal0)
                i += 1
                # a traced run times one iteration only, to stay within its
                # time limit
                if args.trace or (i >= wl.iterations and time.perf_counter() - loop_start >= args.seconds):
                    break
        context.update(iterations=len(samples), steal_s=steal, samples=samples,
                       peak_mem_parts_mb=mem.peak_parts)

        summary = {key: median_of(samples, key) for key in END_TO_END_UNITS}
        summary["setup_s"] = session_s + materialize_s + warmup_s
        summary["peak_mem_mb"] = mem.peak / 2**20
        if args.trace:
            # the timed iterations ran without the event log; the traced one
            # runs in a new session with it on (the JVM and its JIT stay)
            spark.stop()
            spark = start_spark(args.workload, cores, event_dir=os.path.join(work, "events"))
            wl.bind(spark)
            traced = traced_iteration(wl, tracer, check, samples, i)
    finally:
        stop_spark(spark)
    if args.trace:
        from erbench.tracing import per_layer, read_event_log

        jobs, tasks = read_event_log(os.path.join(work, "events"))
        metrics = per_layer(tracer.spans, jobs, tasks, **traced)
    else:
        metrics = {k: {"value": summary[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    context["capacity_after"] = capacity(cores)
    context["errors"] = check.errors
    shutil.rmtree(work, ignore_errors=True)
    # the run's context is kept beside its result, never gated on
    results = os.path.join(HERE, ".work", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(context, fh, indent=1)
    print(json.dumps({"context": context}), flush=True)
    return {
        "correct": check.failed == 0 and check.attempted > 0,
        "attempted": check.attempted,
        "failed": check.failed,
        "metrics": metrics,
    }


def _guarded(wl, i, check, corrupt, batch) -> dict:
    """One iteration; an exception counts its unchecked operations as failed."""
    before = check.attempted
    try:
        return wl.iteration(i, check, corrupt, batch)
    except Exception as exc:  # a failed operation is a result, not a crash
        missing = wl.ops(batch) - (check.attempted - before)
        for _ in range(max(1, missing)):
            check.op(False, f"iteration {i}: {type(exc).__name__}: {exc}"[:500])
        return {}


def traced_iteration(wl, tracer, check, samples, i) -> dict:
    """One more iteration with spans on. Returns what the event-log fold
    needs beside the spans; the fold runs once the session has stopped."""
    from ccer.plans.curation_workflow import stage_counts

    with tracer.active():
        _guarded(wl, i, check, corrupt=False, batch=True)
    main = next((s for s in tracer.spans if s.parent is None and s.name == wl.main_call), None)
    if main is None:
        return {"main": None, "rows": {}, "funnel": {}, "untraced_s": 0.0}
    wd = main.attrs["workdir"]
    prefix = main.attrs["prefix"]
    return {
        "main": main,
        "rows": {prefix + k: v["rows"] or 0 for k, v in stage_counts(wd).items()},
        "funnel": wl.funnel(wd),
        "untraced_s": median_of(samples, "call_s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "ccer", "__init__.py")):
        print("erbench: no ccer package beside erbench/; run from a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from erbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"erbench: unknown workload {args.workload!r}; have {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
