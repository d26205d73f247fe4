"""Two-cluster-size scaling protocol (BENCH/BASELINE.md).

The north rule's N→4N criterion assumes a real cluster that delivers 4×
the CPU when you pay for 4× the executors. This sandbox host does not:
advertised cores are throttled/stolen (measured below), so raw
wall-clock efficiency under-reports how the PLAN scales. The protocol
therefore reports three layers of evidence, most defensible first:

1. **Capacity-normalized efficiency** = (T_N / T_4N) / (C_4N / C_N),
   where C_k is the host's MEASURED deliverable parallelism at k workers
   (CPU-bound multiprocessing calibration, run in the same session,
   interleaved with the Spark runs). This is the estimator of what the
   job would do on hardware that actually provides the cores.
2. **CPU-work conservation** = Σ executorCpuTime at N ÷ at 4N (Spark
   task metrics via the UI REST API). ≈1.0 proves the extra parallelism
   adds no duplicated or overhead work — the failure mode that, unlike
   host throttling, WOULD reproduce on a real cluster.
3. **Raw wall-clock efficiency** = (T_N / T_4N) / 4, the literal
   criterion, reported unadjusted alongside the host calibration that
   explains it.

Runs are interleaved A/B A/B (…) so slow host phases hit both levels.

AGGREGATION RULE (the headline number reproduces from the raw runs
under exactly this rule): each interleaved round i yields ONE
capacity-normalized efficiency
    eff_i = (T_N_i / T_4N_i) / (C_4N_i / C_N_i)
with C_*_i the mean of the capacity samples bracketing round i (one
burst before each round + one after the last). The HEADLINE is the
MEDIAN of eff_i over all rounds, reported with the full distribution —
never best-of-window, which selects the quietest host phase and
inflated the round-2 claim (0.891 best vs 0.524 in a later execution
of the same protocol).

Usage: python jobs/scaling_bench.py [--docs 960000] [--repeat 5]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from ccer.hostcap import measure_effective_cores  # noqa: E402


def prepare_corpus(n_docs: int, path: str) -> None:
    """Materialize the deterministic synthetic page corpus once; both
    scaling runs then read the SAME parquet bytes."""
    from ccer.session import get_spark
    from ccer.sources.pages import synthesize_pages

    spark = get_spark(app_name="scaling-prep", cores=32)
    pages = synthesize_pages(spark, n_docs, seed=42, with_labels=False)
    pages.write.mode("overwrite").parquet(path)
    spark.stop()


def run_level(
    cores: int, corpus: str, workdir: str, job: str = "er", env_extra: dict | None = None
) -> dict:
    shutil.rmtree(workdir, ignore_errors=True)
    # level fairness: flush writeback, then WARM the corpus + jars so every
    # run at every level starts from the same (warm) page-cache state.
    # (The previous protocol dropped all caches instead; that added a
    # noisy multi-GB cold re-read of jars/libs/corpus whose I/O time
    # swamped the signal — local[4] runs of identical work ranged
    # 289-550 s under it.)
    subprocess.run(["sync"], check=False)
    for root, _, files in os.walk(corpus):
        for f in files:
            with open(os.path.join(root, f), "rb") as fh:
                while fh.read(1 << 22):
                    pass
    time.sleep(2)
    t0 = time.time()
    script = "run_pipeline.py" if job == "er" else "run_curation.py"
    out = subprocess.run(
        [
            sys.executable,
            os.path.join(REPO, "jobs", script),
            "--input", corpus,
            "--workdir", workdir,
            "--cores", str(cores),
            "--metrics",
        ],
        capture_output=True,
        text=True,
        timeout=3600,
        env={**os.environ, **(env_extra or {})},
    )
    wall = time.time() - t0
    last_json = None
    for line in out.stdout.splitlines():
        line = line.strip()
        if line.startswith("{"):
            last_json = json.loads(line)
    if last_json is None:
        raise RuntimeError(
            f"run at cores={cores} produced no JSON:\n{out.stdout[-2000:]}\n{out.stderr[-2000:]}"
        )
    last_json["wall_sec"] = round(wall, 1)
    last_json["cores"] = cores
    shutil.rmtree(workdir, ignore_errors=True)  # keep tmpfs headroom
    return last_json


def main() -> None:
    parser = argparse.ArgumentParser()
    # corpus default: large enough that per-stage fixed costs (stage
    # barriers, Python worker spawn, job scheduling) are <5% of wall at
    # the 4N level — at 480k docs the edges stage bottoms out at ~40s
    # where overheads dominate and NO plan could show its scaling
    parser.add_argument("--docs", type=int, default=960_000)
    parser.add_argument("--repeat", type=int, default=5)
    parser.add_argument("--levels", default="4,16", help="comma list: N,4N cores")
    parser.add_argument("--base", default="/tmp/ccer_scaling")
    parser.add_argument(
        "--workbase",
        default="/dev/shm/ccer_scaling",
        help="stage-checkpoint workdirs (tmpfs = the executor-local-NVMe analog)",
    )
    parser.add_argument(
        "--job",
        choices=("er", "curation"),
        default="er",
        help="which spark-submit job to scale: the ER pipeline or the "
        "curation funnel (same protocol, same corpus shape)",
    )
    parser.add_argument(
        "--executors",
        default=None,
        help="comma list E,4E: run each level as local-cluster[E, exec-cores, "
        "exec-mem-mb] — E SEPARATE executor JVMs with real RPC shuffle and "
        "serialization boundaries, the literal N-vs-4N-EXECUTORS shape of "
        "the north rule (vs thread-level local[n]). Writes "
        "SCALING_RUNS_EXECUTORS.md instead of the core-mode report.",
    )
    parser.add_argument("--exec-cores", type=int, default=4)
    parser.add_argument(
        "--exec-mem-mb",
        type=int,
        default=10240,
        help="heap per executor JVM; mirrors the per-core sizing rationale "
        "in ccer.session (each executor brings its own memory)",
    )
    args = parser.parse_args()

    corpus = os.path.join(args.base, "pages_parquet")
    if not os.path.exists(corpus):
        print(f"preparing corpus ({args.docs} docs)...", flush=True)
        prepare_corpus(args.docs, corpus)
        time.sleep(10)  # let the prep session's JVM/page-cache churn settle

    if args.executors:
        e_lo, e_hi = (int(x) for x in args.executors.split(","))
        assert e_hi == 4 * e_lo, "executors must be E,4E"
        lo, hi = e_lo * args.exec_cores, e_hi * args.exec_cores
        # per-executor resources are FIXED across levels — adding
        # executors adds their memory with them, the real-cluster shape;
        # the driver does not need cores-scaled heap in cluster mode
        level_env = {
            lvl: {
                "CCER_MASTER": f"local-cluster[{e},{args.exec_cores},{args.exec_mem_mb}]",
                "CCER_OFFHEAP_SIZE": f"{max(4, args.exec_cores)}g",
                "CCER_DRIVER_MEM": "8g",
            }
            for lvl, e in ((lo, e_lo), (hi, e_hi))
        }
        level_desc = {
            lvl: f"local-cluster[{e},{args.exec_cores},{args.exec_mem_mb}]"
            for lvl, e in ((lo, e_lo), (hi, e_hi))
        }
    else:
        lo, hi = (int(x) for x in args.levels.split(","))
        assert hi == 4 * lo, "levels must be N,4N"
        level_env = {lo: {}, hi: {}}
        level_desc = {lo: f"local[{lo}]", hi: f"local[{hi}]"}

    # interleaved rounds, each bracketed by a host-capacity burst: round i
    # uses the mean of brackets i and i+1 so each efficiency is normalized
    # by the host state AROUND that round, not a session-wide average
    brackets = []  # bracket j = {"lo": C_lo, "hi": C_hi}
    results = {lo: [], hi: []}

    def capacity_bracket(tag):
        b = {w: measure_effective_cores(w) for w in (lo, hi)}
        print(f"host capacity ({tag}): {lo}w={b[lo]:.2f} {hi}w={b[hi]:.2f}", flush=True)
        return b

    for r in range(args.repeat):  # cap, A, B | cap, A, B | … | cap
        brackets.append(capacity_bracket(f"pre round {r}"))
        for cores in (lo, hi):
            print(f"run {r}: {level_desc[cores]}...", flush=True)
            res = run_level(
                cores,
                corpus,
                os.path.join(args.workbase, f"wd_{cores}_{r}"),
                job=args.job,
                env_extra=level_env[cores],
            )
            print(json.dumps(res), flush=True)
            results[cores].append(res)
    brackets.append(capacity_bracket("post"))

    def median(vals):
        s = sorted(vals)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    rounds = []
    for r in range(args.repeat):
        c_lo_r = (brackets[r][lo] + brackets[r + 1][lo]) / 2
        c_hi_r = (brackets[r][hi] + brackets[r + 1][hi]) / 2
        t_lo = results[lo][r]["elapsed_sec"]
        t_hi = results[hi][r]["elapsed_sec"]
        speedup = t_lo / t_hi
        cpu_lo = results[lo][r].get("task_metrics", {}).get("executor_cpu_sec")
        cpu_hi = results[hi][r].get("task_metrics", {}).get("executor_cpu_sec")
        rounds.append({
            "round": r,
            "elapsed_sec_n": t_lo, "elapsed_sec_4n": t_hi,
            "cap_n": round(c_lo_r, 2), "cap_4n": round(c_hi_r, 2),
            "eff_wall": round(speedup / 4.0, 3),
            "eff_capacity": round(speedup / (c_hi_r / c_lo_r), 3),
            "cpu_work_conservation": round(cpu_lo / cpu_hi, 3) if cpu_lo and cpu_hi else None,
        })
        print(json.dumps(rounds[-1]), flush=True)

    eff_caps = [x["eff_capacity"] for x in rounds]
    eff_walls = [x["eff_wall"] for x in rounds]
    work_ratios = [x["cpu_work_conservation"] for x in rounds if x["cpu_work_conservation"]]
    med_lo = median([r["elapsed_sec"] for r in results[lo]])
    med_hi = median([r["elapsed_sec"] for r in results[hi]])
    c_lo = median([b[lo] for b in brackets])
    c_hi = median([b[hi] for b in brackets])
    dps_lo = args.docs / med_lo
    dps_hi = args.docs / med_hi
    eff_capacity = median(eff_caps)
    eff_wall = median(eff_walls)
    work_ratio = round(median(work_ratios), 3) if work_ratios else None

    def concurrency(rs, wall_key="elapsed_sec"):
        vals = [
            r["task_metrics"]["executor_run_sec"] / r[wall_key]
            for r in rs
            if r.get("task_metrics", {}).get("executor_run_sec")
        ]
        return median(vals) if vals else None

    conc_lo, conc_hi = concurrency(results[lo]), concurrency(results[hi])

    summary = {
        "job": args.job,
        "master_n": level_desc[lo], "master_4n": level_desc[hi],
        "n_docs": args.docs, "level_n": lo, "level_4n": hi,
        "n_rounds": args.repeat,
        "aggregation": "median over per-round efficiencies (bracketed capacity)",
        "elapsed_sec_n_median": med_lo, "elapsed_sec_4n_median": med_hi,
        "docs_per_sec_n": round(dps_lo, 1), "docs_per_sec_4n": round(dps_hi, 1),
        "host_effective_cores_n": round(c_lo, 2),
        "host_effective_cores_4n": round(c_hi, 2),
        "scaling_efficiency_wall_median": round(eff_wall, 3),
        "scaling_efficiency_capacity_normalized_median": round(eff_capacity, 3),
        "eff_capacity_all_rounds": eff_caps,
        "eff_wall_all_rounds": eff_walls,
        "cpu_work_conservation_median": work_ratio,
        "achieved_concurrency_n": round(conc_lo, 2) if conc_lo else None,
        "achieved_concurrency_4n": round(conc_hi, 2) if conc_hi else None,
    }
    print(json.dumps(summary), flush=True)

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    if args.job == "er":
        stage_lo = results[lo][-1].get("stage_sec", {})
        stage_hi = results[hi][-1].get("stage_sec", {})
        stage_names = ["features", "blocks", "pairs", "edges", "components", "clusters"]
        out_name = (
            "SCALING_RUNS_EXECUTORS.md" if args.executors else "SCALING_RUNS.md"
        )
        job_desc = "Identical ER pipeline job (`jobs/run_pipeline.py`)"
    else:
        stage_lo = {
            k: v.get("duration_sec")
            for k, v in results[lo][-1].get("funnel", {}).items()
        }
        stage_hi = {
            k: v.get("duration_sec")
            for k, v in results[hi][-1].get("funnel", {}).items()
        }
        stage_names = ["docs", "exact", "neardup", "quality", "decontam", "sample"]
        out_name = (
            "SCALING_RUNS_CURATION_EXECUTORS.md"
            if args.executors
            else "SCALING_RUNS_CURATION.md"
        )
        job_desc = "Identical curation funnel job (`jobs/run_curation.py`)"
    round_rows = "\n".join(
        f"| {x['round']} | {x['elapsed_sec_n']:.1f} | {x['elapsed_sec_4n']:.1f} "
        f"| {x['cap_n']:.2f} | {x['cap_4n']:.2f} | {x['eff_wall']:.3f} "
        f"| {x['eff_capacity']:.3f} | {x['cpu_work_conservation'] or '-'} |"
        for x in rounds
    )
    with open(os.path.join(REPO, "BENCH", out_name), "w") as fh:
        fh.write(
            f"""# BENCH/{out_name[:-3]} — two-cluster-size scaling protocol

{job_desc}, levels {level_desc[lo]} vs {level_desc[hi]}, on identical input
({args.docs:,} deterministic synthetic pages, seed=42, pre-materialized
parquet), fresh JVM per run, {args.repeat} interleaved A/B rounds, each
bracketed by a host-capacity burst. The features stage is bucketed on
`id` (one bucket per shuffle partition), so the scoring joins read
co-located buckets with no features-side exchange.

**Aggregation rule (stated, reproducible from the raw JSON below):**
round i's efficiency uses that round's own elapsed pair and the mean of
the capacity brackets before/after it; the headline is the MEDIAN over
rounds. No best-of-window selection anywhere.

## Per-round results

| round | T_N (s) | T_4N (s) | cap_N | cap_4N | eff_wall | eff_capacity | cpu-work N/4N |
|---|---|---|---|---|---|---|---|
{round_rows}

## Headline (medians over {args.repeat} rounds)

| level | master | elapsed median (s) | docs/sec | deliverable cores (median) |
|---|---|---|---|---|
| N  | {level_desc[lo]}  | {med_lo:.1f} | {dps_lo:.1f} | {c_lo:.2f} |
| 4N | {level_desc[hi]} | {med_hi:.1f} | {dps_hi:.1f} | {c_hi:.2f} |

| metric | median | all rounds | meaning |
|---|---|---|---|
| capacity-normalized efficiency | **{eff_capacity:.3f}** | {eff_caps} | speedup achieved ÷ speedup the host can physically deliver — the estimator for a real cluster with true 4× cores (target ≥ 0.8) |
| CPU-work conservation (Σ executorCpuTime N ÷ 4N) | **{work_ratio}** | — | ≈1.0 ⇒ added parallelism introduces no duplicated/overhead work; the plan's work is scale-invariant |
| raw wall-clock efficiency (T_N/T_4N)/4 | {eff_wall:.3f} | {eff_walls} | the literal criterion, un-normalized; bounded above by host deliverable ratio / 4 ≈ {c_hi / c_lo / 4:.3f} on this machine |

Achieved task concurrency (Σ executorRunTime / wall): {f"{conc_lo:.2f}" if conc_lo else "-"} at {level_desc[lo]}, {f"{conc_hi:.2f}" if conc_hi else "-"} at {level_desc[hi]}.

Host capacity is measured with CPU-bound multiprocessing bursts
bracketing every round: an advertised core count of {hi} delivers only
{c_hi:.2f} concurrent CPU-seconds/second here — wall-clock alone cannot
distinguish "the plan doesn't scale" from "the host doesn't". CPU-work
conservation is the discriminator: a plan that failed to scale
(duplicated work, serialized stages) would burn MORE total CPU at 4N.

Per-stage seconds (last round):

| stage | {level_desc[lo]} | {level_desc[hi]} |
|---|---|---|
"""
            + "\n".join(
                f"| {k} | {stage_lo.get(k, '-')} | {stage_hi.get(k, '-')} |"
                for k in stage_names
            )
            + f"""

Raw runs (including full task metrics):

```json
{json.dumps({"summary": summary, "rounds": rounds, "capacity_brackets": brackets, "runs": results}, indent=2)}
```
"""
        )
    print(f"wrote BENCH/{out_name} (raw protocol output; BENCH/BASELINE.md is the curated summary)", flush=True)


if __name__ == "__main__":
    main()
