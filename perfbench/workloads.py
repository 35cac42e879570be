"""The benchmark's workloads: inputs, one pass, its check, and the
per-layer calls of a traced run.

A pass is what a user of the system runs: the whole extraction of one
corpus, ending in an action whose result is checked against the
reference. Each Spark call runs under a job group so a traced run can
attribute jobs, stages and tasks to it.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time

from host import CORES
from inputs import extract_inputs, html_inputs, spark_digest
from tracing import KERNEL_STAGES, wrap_kernels

__all__ = ["WORKLOADS", "PER_LAYER", "job_group"]

# every per-layer metric, with its unit; a workload that does not
# exercise a layer reports 0 for it
PER_LAYER = {
    "kernels.media_per_s": "1/s",
    **{f"kernels.{stage}_s": "s" for stage in KERNEL_STAGES},
    "kernels.html_pages_per_s": "1/s",
    "udfs.decode_store_s": "s",
    "udfs.fragments_out": "count",
    "udfs.jobs": "count",
    "udfs.stages": "count",
    "udfs.task_ms_p50": "ms",
    "udfs.task_ms_max": "ms",
    "udfs.kernel_ceiling_frac": "frac",
    "extract.shell_s": "s",
    "extract.jobs": "count",
    "extract.stages": "count",
    "extract.shuffle_write_bytes": "bytes",
    "extract.task_skew": "ratio",
    "extract.rows_out": "count",
    "checkpoint.run_s": "s",
    "checkpoint.jobs": "count",
    "checkpoint.bucket_s_p50": "s",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "html_extract.main_content_s": "s",
    "html_extract.pagerank_s": "s",
    "html_extract.pagerank_jobs": "count",
    "html_extract.pagerank_stages": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.scheduler_delay_ms": "ms",
    "spark.gc_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.idle_core_frac": "frac",
    "session.start_s": "s",
    "model.per_job_s": "s",
    "model.ratio": "ratio",
    "trace.docs_per_s": "1/s",
    "trace.overhead_frac": "frac",
}

# media rows (or pages) decoded in the single-core kernel pass
KERNEL_SAMPLE = 256


@contextlib.contextmanager
def job_group(spark, gid: str, tracer=None):
    """Run the block's Spark jobs under job group ``gid`` (and inside a
    span of the same name when tracing)."""
    spark.sparkContext.setJobGroup(gid, gid)
    try:
        if tracer is None:
            yield
        else:
            with tracer.span(gid):
                yield
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)


class Extract:
    """``extract_spans`` over a docs table and its media store."""

    unit = "docs"

    def __init__(self, n_docs: int, heavy_frac: float, media_pool: int,
                 poison_share: float):
        self.params = dict(n_docs=n_docs, heavy_frac=heavy_frac,
                           media_pool=media_pool, poison_share=poison_share,
                           media_files=8)
        self.n_items = n_docs

    def prepare(self, spark, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        os.makedirs(work, exist_ok=True)
        self.meta = extract_inputs(spark, os.path.join(work, "inputs"), seed,
                                   **self.params)

    def run_pass(self, spark, tag: str, tracer=None) -> bool:
        from paddleocr_spark.operators.extract import extract_spans

        docs = spark.read.parquet(self.meta["docs"])
        with job_group(spark, f"{tag}/extract", tracer):
            got = spark_digest(extract_spans(docs, self.meta["media"]))
        return got == (self.meta["ref_rows"], self.meta["ref_hash"])

    def quarantine(self, spark, fragments=None) -> tuple[bool, float]:
        """(quarantined refs == planted poison, quarantined / media)."""
        from paddleocr_spark.functions.udfs import (
            decode_errors,
            decode_media_store,
        )

        if fragments is None:
            fragments = decode_media_store(spark, self.meta["media"])
        with job_group(spark, "quarantine"):
            refs = sorted(r.media_ref
                          for r in decode_errors(fragments).collect())
        return refs == self.meta["poison"], len(refs) / self.meta["n_media"]

    def _kernel_rows(self) -> list[dict]:
        import glob

        import pyarrow.parquet as pq

        rows, bad = [], set(self.meta["poison"])
        for path in sorted(glob.glob(os.path.join(self.meta["media"],
                                                  "*.parquet"))):
            rows += [r for r in pq.read_table(path).to_pylist()
                     if r["media_ref"] not in bad]
            if len(rows) >= KERNEL_SAMPLE:
                break
        return rows[:KERNEL_SAMPLE]

    def kernel_layer(self, tracer) -> dict:
        """Single-core decode of a fixed media sample in this process:
        once plain for the rate, once with kernel spans for self time."""
        from paddleocr_spark import extract_core

        rows = self._kernel_rows()
        t0 = time.perf_counter()
        for row in rows:
            extract_core.decode_media_row(row)
        rate = len(rows) / (time.perf_counter() - t0)
        with wrap_kernels(tracer, extract_core):
            with tracer.span("kernels.sample", media=len(rows)):
                for row in rows:
                    extract_core.decode_media_row(row)
        own = tracer.self_seconds()
        return {"kernels.media_per_s": rate,
                **{f"kernels.{stage}_s": own.get(f"kernels.{stage}", 0.0)
                   for stage in KERNEL_STAGES}}

    def layers(self, spark, tracer, check) -> dict:
        """Layer calls of a traced run; Spark figures are filled in from
        the event log by ``layer_metrics``."""
        from paddleocr_spark.functions.udfs import decode_media_store
        from paddleocr_spark.operators.extract import extract_spans

        out = self.kernel_layer(tracer)
        docs = spark.read.parquet(self.meta["docs"])
        with job_group(spark, "udfs/", tracer):
            t0 = time.perf_counter()
            frags = decode_media_store(spark, self.meta["media"]).persist()
            out["udfs.fragments_out"] = frags.count()
            out["udfs.decode_store_s"] = time.perf_counter() - t0
        ok, self.failed_frac = self.quarantine(spark, frags)
        check("quarantine", ok)
        with job_group(spark, "extract/", tracer):
            t0 = time.perf_counter()
            got = spark_digest(extract_spans(docs, self.meta["media"],
                                             fragments_df=frags))
            out["extract.shell_s"] = time.perf_counter() - t0
        frags.unpersist()
        out["extract.rows_out"] = got[0]
        check("extract_shell", got == (self.meta["ref_rows"],
                                       self.meta["ref_hash"]))
        out.update(self._checkpoint_layer(spark, docs, tracer, check))
        return out

    def _checkpoint_layer(self, spark, docs, tracer, check) -> dict:
        from paddleocr_spark.operators.checkpoint import (
            read_output,
            run_with_checkpoint,
        )

        out_dir = os.path.join(self.work, "checkpoint")
        shutil.rmtree(out_dir, ignore_errors=True)
        try:
            with job_group(spark, "checkpoint/", tracer):
                t0 = time.perf_counter()
                run_with_checkpoint(spark, docs, self.meta["media"], out_dir,
                                    run_id=f"perfbench-{self.seed}",
                                    n_buckets=8)
                run_s = time.perf_counter() - t0
            with job_group(spark, "checkpoint.read"):
                got = spark_digest(read_output(spark, out_dir))
                walls = [r.wall_ms / 1000.0 for r in spark.read.parquet(
                    os.path.join(out_dir, "checkpoint")).collect()]
            check("checkpoint_output", got == (self.meta["ref_rows"],
                                               self.meta["ref_hash"]))
            files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir)
                     for f in fs if f.endswith(".parquet")]
            return {"checkpoint.run_s": run_s,
                    "checkpoint.bucket_s_p50": statistics.median(walls),
                    "checkpoint.files_written": len(files),
                    "checkpoint.bytes_written": sum(
                        os.path.getsize(f) for f in files)}
        finally:
            shutil.rmtree(out_dir, ignore_errors=True)

    def kernel_work_s(self, layer: dict) -> float:
        """Single-core seconds of kernel work in one pass."""
        return self.meta["n_media"] / layer["kernels.media_per_s"]

    def layer_metrics(self, elog, layer: dict, passes: list[str],
                      tracer) -> dict:
        udfs = elog.group("udfs/")
        shell = elog.group("extract/")
        out = {
            "udfs.jobs": udfs["jobs"], "udfs.stages": udfs["stages"],
            "udfs.task_ms_p50": udfs["task_ms_p50"],
            "udfs.task_ms_max": udfs["task_ms_max"],
            "udfs.kernel_ceiling_frac": self.meta["n_media"] / (
                layer["udfs.decode_store_s"] * CORES
                * layer["kernels.media_per_s"]),
            "extract.jobs": shell["jobs"], "extract.stages": shell["stages"],
            "extract.shuffle_write_bytes": shell["shuffle_write_bytes"],
            "extract.task_skew": shell["task_skew"],
        }
        out["checkpoint.jobs"] = elog.group("checkpoint/")["jobs"]
        return out


class Html:
    """``html_main_content`` then ``rounds`` of ``html_pagerank`` over a
    seeded documents table, both collected to the driver."""

    unit = "pages"
    failed_frac = 0.0

    def __init__(self, n_pages: int, rounds: int):
        self.n_items = n_pages
        self.rounds = rounds

    def prepare(self, spark, work: str, seed: int) -> None:
        import pandas as pd

        self.dir = os.path.join(work, "inputs")
        os.makedirs(self.dir)
        html_inputs(self.dir, seed, self.n_items, self.rounds)
        self.want_main = pd.read_parquet(
            os.path.join(self.dir, "main_content.parquet"))
        self.want_rank = pd.read_parquet(
            os.path.join(self.dir, "pagerank.parquet"))

    @staticmethod
    def _same(got, want) -> bool:
        got = got[list(want.columns)].sort_values("doc_id")
        return got.reset_index(drop=True).equals(want)

    def run_pass(self, spark, tag: str, tracer=None) -> bool:
        from paddleocr_spark.operators.html_extract import (
            html_main_content,
            html_pagerank,
        )

        with job_group(spark, f"{tag}/main_content", tracer):
            main = html_main_content(spark, self.dir).toPandas()
        with job_group(spark, f"{tag}/pagerank", tracer):
            rank = html_pagerank(spark, self.dir,
                                 iters=self.rounds).toPandas()
        return self._same(main, self.want_main) and self._same(
            rank, self.want_rank)

    def quarantine(self, spark) -> tuple[bool, float]:
        return True, 0.0

    def layers(self, spark, tracer, check) -> dict:
        """Single-core ``kernels.html.main_content`` over a page sample."""
        from paddleocr_spark.kernels.html import main_content
        from paddleocr_spark.operators.html_extract import htmlize_documents

        with job_group(spark, "kernel_sample"):
            pages = list(htmlize_documents(spark, self.dir)
                         .limit(KERNEL_SAMPLE).toPandas()["html"])
        with tracer.span("kernels.html.main_content", pages=len(pages)):
            t0 = time.perf_counter()
            for page in pages:
                main_content(page)
            rate = len(pages) / (time.perf_counter() - t0)
        return {"kernels.html_pages_per_s": rate}

    def kernel_work_s(self, layer: dict) -> float:
        return self.n_items / layer["kernels.html_pages_per_s"]

    def layer_metrics(self, elog, layer: dict, passes: list[str],
                      tracer) -> dict:
        def wall(call):
            names = {p + call for p in passes}
            return statistics.median(s["end"] - s["start"]
                                     for s in tracer.spans
                                     if s["name"] in names)

        def med(call, key):
            return statistics.median(elog.group(p + call)[key]
                                     for p in passes)

        return {
            "html_extract.main_content_s": wall("main_content"),
            "html_extract.pagerank_s": wall("pagerank"),
            "html_extract.pagerank_jobs": med("pagerank", "jobs"),
            "html_extract.pagerank_stages": med("pagerank", "stages"),
        }


# Sizes are set so one pass takes a few seconds on a 4-core host; run.py's docstring says why each workload exists.
WORKLOADS = {
    "extract_media_heavy": lambda: Extract(
        n_docs=400, heavy_frac=0.01, media_pool=800, poison_share=0.01),
    "html_dom": lambda: Html(n_pages=2000, rounds=5),
}
