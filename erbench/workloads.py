"""The benchmark's workloads. Each drives the engine only through its
public entry points and checks every output it times.

Both split the generated pages by url hash into a prior share (3/4) and
one arrival batch (1/4).

``er_sparse``  labeled pages from ``synthesize_pages``. Per iteration: a
               cold ``run_pipeline`` over every page into a fresh workdir,
               then a resume after ``StageStore.invalidate_from("edges")``,
               then the arrival batch through ``incremental_update``
               against the prior state (features, raw blocks, block-size
               profile and components of the prior pages), as a streaming
               caller passes it back in.
``curation``   the same generator. Per iteration: a cold ``run_curation``
               over every page into a fresh workdir, then a resume after
               ``invalidate_from("neardup")``, then a cold
               ``run_curation`` of the arrival batch alone.

Set-up generates the inputs from the seed, writes them to parquet and
makes the first call of every entry point on them, so the engine receives
only files, no cold call is timed, and every timed output can be compared
with a reference made in set-up. Each run times ``iterations``
iterations (more if ``--seconds`` has not passed), the first ``batches``
of them with the arrival batch, and reports medians.
"""

from __future__ import annotations

import hashlib
import os
from contextlib import contextmanager

from pyspark.sql import functions as F

from ccer.plans.curation_workflow import CURATION_STAGE_ORDER, run_curation, stage_counts
from ccer.plans.evaluate import pairwise_scores
from ccer.plans.pipeline import STAGE_ORDER, run_pipeline
from ccer.sources.catalog import StageStore
from ccer.sources.pages import synthesize_pages
from ccer.streaming.ingest import incremental_update

from erbench.probes import cpu_times, dir_bytes
from erbench.tracing import Tracer

MB = 2**20
F1_GATE = 0.99
INGEST_STATE = ("features", "blocks", "components", "profile")


def digest(rows) -> str:
    """Order-free digest of output rows."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(repr(row).encode())
    return h.hexdigest()


@contextmanager
def cpu_meter(out: dict):
    """Guest busy CPU-seconds spent inside the block, into ``out["cpu_s"]``."""
    before = cpu_times()["busy"]
    try:
        yield
    finally:
        out["cpu_s"] = cpu_times()["busy"] - before


class Check:
    """Counts operations and failed output checks for one run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def op(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)


class Workload:
    """One timed iteration: a cold call of the workload's entry point into
    a fresh workdir, a resume of that workdir, then (in the first
    ``batches`` iterations) one arrival batch. Subclasses say how to make
    the input, run the entry point, score its output and hand in the
    batch."""

    name = ""
    main_call = ""  # name of the call span whose stage spans are the stage layers
    batch_call = ""  # name of the arrival batch's call span
    stage_prefix = ""  # layer-name prefix of this entry point's stages
    stage_order: list[str] = []
    resume_from = ""
    # timed iterations per run, and how many of them hand in the arrival
    # batch: every time metric is a median over a run's samples
    iterations = 2
    batches = 2

    def __init__(self, spark, work: str, seed: int, n_pages: int, tracer: Tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n_pages = n_pages
        self.tracer = tracer
        self.input_dir = os.path.join(work, "input")

    @staticmethod
    def arriving():
        """A quarter of the pages, by url hash, form the arrival batch."""
        return F.pmod(F.xxhash64("url"), F.lit(4)) == 0

    def materialize(self) -> None:
        """Generate the labeled pages and write them to parquet."""
        parts = self.spark.sparkContext.defaultParallelism
        synthesize_pages(self.spark, self.n_pages, seed=self.seed, n_partitions=parts).write.mode(
            "overwrite"
        ).parquet(self.input_dir)

    def _truth(self):
        return self.spark.read.parquet(self.input_dir).select("url", "warc_ts", "true_cluster_id")

    def bind(self, spark) -> None:
        """Read the inputs in ``spark`` (set-up, and again after the
        traced run restarts the session): every page, the prior pages and
        the arrival batch, each a scan of the parquet input without its
        labels."""
        self.spark = spark
        self.pages = spark.read.parquet(self.input_dir).drop("true_cluster_id")
        self.prior = self.pages.filter(~self.arriving())
        self.arrival = self.pages.filter(self.arriving())

    def warm_up(self, check: Check) -> None:
        """The first call, untimed; its output is the reference."""
        self.bind(self.spark)
        self.n_input = self.pages.count()
        out = self.collect(self.run(self.pages, os.path.join(self.work, "reference"), resume=False))
        self.reference = digest(out)
        check.op(self.rows_ok(out), f"warm-up call: {len(out)} output rows")

    def resume(self, wd: str, check: Check) -> float:
        """Resume ``wd`` after ``invalidate_from(resume_from)``; the output
        must equal the reference. Returns the resume's wall."""
        with self.tracer.call("resume", self.stage_prefix, workdir=wd) as call:
            StageStore(self.spark, wd).invalidate_from(self.resume_from, self.stage_order)
            result = self.run(self.pages, wd, resume=True)
        check.op(digest(self.collect(result)) == self.reference,
                 f"resume after invalidate_from({self.resume_from!r}) changed the output")
        return call.wall

    def rows_ok(self, out: list) -> bool:
        return True

    @staticmethod
    def ops(batch: bool) -> int:
        """Operations an iteration checks: the call, the resume, the batch."""
        return 3 if batch else 2

    def iteration(self, i: int, check: Check, corrupt: bool, batch: bool) -> dict:
        wd = os.path.join(self.work, f"run-{i}")
        sample: dict = {}
        # the span (and every time taken from it) ends when the entry
        # point returns; the driver-side collect for the check is outside
        with self.tracer.call(self.main_call, self.stage_prefix, workdir=wd) as call, cpu_meter(sample):
            result = self.run(self.pages, wd, resume=False)
        out = self.collect(result)
        sample["call_s"] = call.wall
        sample["pages_per_s"] = self.n_input / call.wall
        sample["stage_store_mb"] = dir_bytes(wd) / MB
        sample["stage_s"] = {k: v["duration_sec"] for k, v in stage_counts(wd).items()}
        call.attrs["stage_mb"] = {
            self.stage_prefix + s: dir_bytes(os.path.join(wd, s)) / MB for s in self.stage_order
        }
        if corrupt:
            out = out[1:]
        check.op(self.rows_ok(out) and digest(out) == self.reference,
                 f"{self.main_call}: output differs from the warm-up call's ({len(out)} rows)")

        sample["resume_s"] = self.resume(wd, check)
        sample["pairwise_f1"] = self.quality(wd)
        if batch:
            sample["batch_latency_s"] = self.arrival_batch(i, check, corrupt)
        return sample


class ErSparse(Workload):
    name = "er_sparse"
    main_call = "pipeline"
    batch_call = "ingest"
    stage_order = STAGE_ORDER
    resume_from = "edges"
    # the batch costs about as much as the pipeline call; one per run keeps
    # the run inside the benchmark's time budget
    batches = 1

    def run(self, pages, wd: str, resume: bool):
        return run_pipeline(self.spark, pages, wd, resume=resume)

    @staticmethod
    def collect(clusters) -> list[tuple]:
        return [(r.rid, r.cluster_id) for r in clusters.select("rid", "cluster_id").collect()]

    def rows_ok(self, out: list) -> bool:
        return len({rid for rid, _ in out}) == len(out) == self.n_input

    def bind(self, spark) -> None:
        super().bind(spark)
        self.prior_state = {name: spark.read.parquet(self._prior_path(name)) for name in INGEST_STATE}

    def _prior_path(self, name: str) -> str:
        return os.path.join(self.work, "ingest-prior", name)

    def warm_up(self, check: Check) -> None:
        """Makes the first ``incremental_update`` call, the prior pages from
        empty state, and stores its outputs as the prior state. Then the
        warm-up pipeline call: every timed run must reproduce its labels
        exactly, every ``incremental_update`` batch must reach them, and
        they are scored (pairwise F1 against the planted clusters)."""
        super().bind(self.spark)
        features, blocks, components, _, profile = incremental_update(self.spark, None, None, self.prior)
        for name, df in zip(INGEST_STATE, (features, blocks, components, profile)):
            df.write.mode("overwrite").parquet(self._prior_path(name))
        super().warm_up(check)
        reference = StageStore(self.spark, os.path.join(self.work, "reference")).read("clusters")
        self.expected = dict(self.collect(reference))
        self.f1 = pairwise_scores(reference, self._truth())["f1"]
        check.op(self.f1 >= F1_GATE, f"warm-up pairwise F1 {self.f1:.4f} < {F1_GATE}")

    def quality(self, wd: str) -> float:
        return self.f1

    def arrival_batch(self, i: int, check: Check, corrupt: bool) -> float:
        """The arrival batch against the stored prior state; its labels must
        equal the batch pipeline's over every page. Timed from handing the
        batch in to its updated labels being collected."""
        prior = self.prior_state
        with self.tracer.call(self.batch_call) as call:
            _, _, _, labels, _ = incremental_update(
                self.spark, prior["features"], prior["components"], self.arrival,
                prior_blocks=prior["blocks"], prior_profile=prior["profile"],
            )
            final = self.collect(labels)
        call.attrs["rows"] = len(final)
        if corrupt:
            final = final[1:]
        check.op(len(final) == self.n_input and dict(final) == self.expected,
                 f"incremental labels differ from the batch pipeline's ({len(final)} rows)")
        return call.wall

    def funnel(self, wd: str) -> dict:
        rows = {k: v["rows"] or 0 for k, v in stage_counts(wd).items()}
        blocks = StageStore(self.spark, wd).read("blocks")
        max_block = blocks.groupBy("block_key").count().agg(F.max("count")).first()[0]
        return {
            "pairs.per_page": rows["pairs"] / max(1, rows["features"]),
            "edges.match_ratio": rows["edges"] / max(1, rows["pairs"]),
            "blocks.max_block": max_block or 0,
        }


class Curation(Workload):
    name = "curation"
    main_call = "curation"
    batch_call = "batch"
    stage_prefix = "cur."
    stage_order = CURATION_STAGE_ORDER
    resume_from = "neardup"

    def run(self, pages, wd: str, resume: bool):
        return run_curation(self.spark, pages, wd, resume=resume)

    @staticmethod
    def collect(survivors) -> list[tuple]:
        return [(r.doc_id,) for r in survivors.select("doc_id").collect()]

    def warm_up(self, check: Check) -> None:
        """Also curates the arrival batch alone once: the reference for
        every timed batch."""
        super().warm_up(check)
        truth = self._truth().select("url", "true_cluster_id").collect()
        self.cluster_of_url = {r.url: r.true_cluster_id for r in truth}
        self.n_clusters = len(set(self.cluster_of_url.values()))
        out = self.collect(self.run(self.arrival, os.path.join(self.work, "batch-reference"), resume=False))
        self.batch_reference = digest(out)

    def quality(self, wd: str) -> float:
        """F1 of near-dup removal against the planted clusters: precision
        is the share of ``neardup`` survivors that are the only survivor of
        their true cluster's group, recall the share of true clusters that
        keep a survivor."""
        urls = [r.url for r in StageStore(self.spark, wd).read("neardup").select("url").collect()]
        kept = {self.cluster_of_url[u] for u in urls}
        precision = len(kept) / max(1, len(urls))
        recall = len(kept) / max(1, self.n_clusters)
        return 2 * precision * recall / (precision + recall) if precision + recall else 0.0

    def arrival_batch(self, i: int, check: Check, corrupt: bool) -> float:
        """A cold ``run_curation`` of the arrival batch alone, timed from
        handing it in to the entry point's return; the survivors must match
        the set-up call's."""
        wd = os.path.join(self.work, f"batch-{i}")
        with self.tracer.call(self.batch_call, "batch.", workdir=wd) as call:
            result = self.run(self.arrival, wd, resume=False)
        out = self.collect(result)
        if corrupt:
            out = out[1:]
        check.op(digest(out) == self.batch_reference,
                 f"arrival batch survivors differ from the set-up call's ({len(out)} rows)")
        return call.wall

    def funnel(self, wd: str) -> dict:
        rows = {k: v["rows"] or 0 for k, v in stage_counts(wd).items()}
        return {"cur.neardup.kept_ratio": rows["neardup"] / max(1, rows["exact"])}


WORKLOADS = {w.name: w for w in (ErSparse, Curation)}
