"""Closed-loop benchmark of the document-extraction engine.

Run from the repository root:

    python3 perfbench/run.py --workload extract_media_heavy --seed 1 \
        --seconds 10 --trace 0

One client runs passes back to back on a local session of one core
less than the host has (local[3] on a 4-core host, never more than
local[4]): the next pass starts when the previous one has finished and
been checked against its reference. The seed makes
the inputs; the engine sees only the generated tables.

Workloads (workloads.py):

- ``extract_media_heavy``: ``extract_spans`` over 400 docs, 1% of
  them media-heavy, nearly every media ref distinct, with 1% of the
  media rows planted as truncated blobs. Decode (kernel and Arrow
  crossing) is the largest share of a pass; the traced run also
  measures ``run_with_checkpoint`` (8 buckets) over this corpus.
- ``html_dom``: ``html_main_content`` then five rounds of
  ``html_pagerank`` over a seeded 2,000-page documents table: the DOM
  kernel and a job-bound iterative plan.

Each workload is the other's control: a decode-kernel change should
move ``extract_media_heavy`` and leave ``html_dom`` unchanged, and a
PageRank or DOM change the reverse.

Phases of a run:

1. launch the JVM and a first session (``session.start_s``);
2. build the inputs and references for (workload, seed) in this run's
   own directory, which no metric includes;
3. set up three times: one untimed warm pass, which forks the Python
   workers and fills lazy caches, in the first session and then in two
   fresh sessions of the same JVM. ``setup_s`` is ``session.start_s``
   plus the median set-up;
4. with ``--trace 0``, run passes for ``--seconds`` (at least three)
   and print the end-to-end metrics: ``cpu_ms_per_doc``, the CPU time
   of the whole process tree per input doc (median over passes),
   ``setup_s``, and ``peak_rss_mb``, the median of the passes' peaks.
   ``docs_per_s`` of the fastest pass is printed but not gated; with
   ``--trace 1``, run half the time untraced,
   then the other half in a session that writes a Spark event log,
   then one call into each layer, and print the per-layer metrics;
5. stop the JVM and wait until every process the run started, however
   deep in the tree, has exited.

Every metric is printed by name and unit before the last line, which
is one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
Spans of a traced run are written to ``.perfbench/trace/`` at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import host
from tracing import EventLog, Tracer, event_log_conf
from workloads import PER_LAYER, WORKLOADS, job_group

SETUPS = 3       # set-ups per run; setup_s takes their median
MIN_PASSES = 3   # timed passes per loop, even past the deadline
END_TO_END = {"cpu_ms_per_doc": "ms", "setup_s": "s", "peak_rss_mb": "MB"}
MODEL_FLAG = 2.0  # model.ratio beyond this factor either way is flagged


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Run:
    """One benchmark run: owns the session and everything it starts."""

    def __init__(self, args, base: str):
        self.args = args
        self.base = base
        self.work = os.path.join(base, f"run-{os.getpid()}")
        self.wl = WORKLOADS[args.workload]()
        self.tracer = Tracer()
        self.checks: dict[str, bool] = {}
        self.spark = None
        self.report: dict[str, tuple[float, str]] = {}

    def check(self, name: str, ok: bool) -> None:
        self.checks[name] = self.checks.get(name, True) and bool(ok)

    def session(self, **conf):
        """A fresh session; the first call also launches the JVM."""
        from paddleocr_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", **{
            "spark.ui.showConsoleProgress": "false", **conf})
        return self.spark

    def loop(self, seconds: float, prefix: str, tracer=None,
             min_passes: int = MIN_PASSES, rss=None) -> list[float]:
        """Closed loop of checked passes; returns each pass's wall time.
        ``self.pass_cpu_s`` then holds each pass's CPU seconds and, with
        an ``RssSampler`` as ``rss``, ``self.pass_rss_mb`` its peak RSS."""
        times: list[float] = []
        self.pass_cpu_s: list[float] = []
        self.pass_rss_mb: list[float] = []
        deadline = time.perf_counter() + seconds
        while len(times) < min_passes or time.perf_counter() < deadline:
            if rss is not None:
                rss.window()
            cpu0 = host.tree_cpu_s()
            t0 = time.perf_counter()
            ok = self.wl.run_pass(self.spark, f"{prefix}/{len(times)}",
                                  tracer)
            times.append(time.perf_counter() - t0)
            self.pass_cpu_s.append(host.tree_cpu_s() - cpu0)
            if rss is not None:
                self.pass_rss_mb.append(rss.window())
            self.check("pass_output", ok)
            self.failed += not ok
        self.attempted += len(times)
        return times

    def run(self) -> dict:
        args, wl = self.args, self.wl
        self.attempted = self.failed = 0
        probe = host.HostProbe().start()
        t0 = time.perf_counter()
        self.session()
        start_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.prepare(self.spark, self.work, args.seed)
        self.report["prepare_s"] = (time.perf_counter() - t0, "s")
        setups = []
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if i:
                self.session()
            self.check("pass_output", wl.run_pass(self.spark, f"setup/{i}"))
            setups.append(time.perf_counter() - t0)
        setup_s = start_s + statistics.median(setups)
        self.report["session.start_s"] = (start_s, "s")
        for i, t in enumerate(setups):
            self.report[f"setup_{i}_s"] = (t, "s")
        if args.trace:
            metrics = self.traced(start_s)
        else:
            metrics = self.untraced(setup_s)
        host_state = probe.stop()
        self.print_report(host_state)
        return {"correct": all(self.checks.values()),
                "attempted": self.attempted, "failed": self.failed,
                "metrics": metrics}

    def untraced(self, setup_s: float) -> dict:
        sampler = host.RssSampler().start()
        try:
            times = self.loop(self.args.seconds, "pass", rss=sampler)
        finally:
            sampler.stop()
        ok, failed_frac = self.wl.quarantine(self.spark)
        self.check("quarantine", ok)
        metrics = {
            # CPU of the whole process tree per input doc, median over
            # passes: the cost of the work done, which time stolen by
            # the hypervisor does not inflate
            "cpu_ms_per_doc": 1000 * statistics.median(self.pass_cpu_s)
            / self.wl.n_items,
            "setup_s": setup_s,
            # median over passes of each pass's peak, so that one
            # pass's outlying 50 ms sample does not set the figure
            "peak_rss_mb": statistics.median(self.pass_rss_mb),
        }
        for name, unit in END_TO_END.items():
            self.report[name] = (metrics[name], unit)
        # printed, not gated: on a shared 4-core host a pass's wall time
        # tracks the CPU the hypervisor steals during it, and the
        # quartiles of ten runs' docs_per_s lay 14-35% of their median
        # apart, wider than a 25% regression bound can hold
        self.report["docs_per_s"] = (self.wl.n_items / min(times), "1/s")
        self.report["pass_s_max"] = (max(times), "s")
        # a failed task fails its pass on a local session (no task
        # retries), so quarantined media are the only failures counted
        self.report["failed_frac"] = (failed_frac, "frac")
        self.report["passes"] = (len(times), "count")
        self.report["pass_s_median"] = (statistics.median(times), "s")
        print("pass times: " + " ".join(f"{t:.3f}" for t in times))
        print("pass CPU s: "
              + " ".join(f"{c:.2f}" for c in self.pass_cpu_s))
        print("pass peak RSS MB: "
              + " ".join(f"{m:.0f}" for m in self.pass_rss_mb))
        return {k: {"value": v, "unit": END_TO_END[k]}
                for k, v in metrics.items()}

    def traced(self, start_s: float) -> dict:
        wl, half = self.wl, max(1.0, self.args.seconds / 2)
        plain = self.loop(half, "plain", min_passes=2)
        log_dir = os.path.join(self.work, "eventlog")
        try:
            spark = self.session(**event_log_conf(log_dir))
            app_id = spark.sparkContext.applicationId
            self.check("pass_output", wl.run_pass(spark, "warm"))
            times = self.loop(half, "pass", self.tracer, min_passes=2)
            # fixed cost of a job: JVM-only near-empty jobs, one task a core
            t0 = time.perf_counter()
            with job_group(spark, "empty/"):
                for _ in range(5):
                    spark.range(0, host.CORES, 1, host.CORES).count()
            empty_s = time.perf_counter() - t0
            layer = wl.layers(spark, self.tracer, self.check)
            self.spark.stop()
            self.spark = None
            elog = EventLog(EventLog.find(log_dir, app_id))
        finally:
            shutil.rmtree(log_dir, ignore_errors=True)

        passes = [f"pass/{i}/" for i in range(len(times))]
        per_pass = [elog.group(p, host.CORES, t)
                    for p, t in zip(passes, times)]
        m = {k: 0.0 for k in PER_LAYER}
        m.update(layer)
        m.update(wl.layer_metrics(elog, layer, passes, self.tracer))
        for key in ("jobs", "stages", "tasks", "executor_run_ms",
                    "scheduler_delay_ms", "gc_ms", "shuffle_write_bytes",
                    "spill_bytes", "failed_tasks", "idle_core_frac"):
            m[f"spark.{key}"] = statistics.median(p[key] for p in per_pass)
        pass_s = statistics.median(times)
        per_job_s = empty_s / max(1, elog.group("empty/")["jobs"])
        m["session.start_s"] = start_s
        m["model.per_job_s"] = per_job_s
        m["model.ratio"] = pass_s / (m["spark.jobs"] * per_job_s
                                     + wl.kernel_work_s(layer) / host.CORES)
        m["trace.docs_per_s"] = wl.n_items / pass_s
        m["trace.overhead_frac"] = 1.0 - statistics.median(plain) / pass_s
        for name, unit in PER_LAYER.items():
            self.report[name] = (m[name], unit)
        self.report["failed_frac"] = (wl.failed_frac, "frac")
        name = f"{self.args.workload}-s{self.args.seed}.json"
        self.tracer.dump(os.path.join(self.base, "trace", name))
        return {k: {"value": m[k], "unit": u} for k, u in PER_LAYER.items()}

    def print_report(self, host_state: dict) -> None:
        a = self.args
        print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} "
              f"unit={self.wl.unit}")
        print("host " + " ".join(f"{k}={v}" for k, v in host_state.items()))
        if host_state["contended"]:
            print("WARNING: other load was present; figures are contended")
        self.report["output_ok"] = (int(all(self.checks.values())), "bool")
        for name, (value, unit) in self.report.items():
            print(f"  {name:32s} {value:14.6g} {unit}")
        for name, ok in self.checks.items():
            if not ok:
                print(f"CHECK FAILED: {name}")
        ratio = self.report.get("model.ratio", (1.0, ""))[0]
        if not 1 / MODEL_FLAG <= ratio <= MODEL_FLAG:
            print(f"FLAG: model.ratio {ratio:.3g} is beyond "
                  f"{MODEL_FLAG:g}x of jobs x per-job cost + work / cores")

    def close(self) -> None:
        """Stop the session and the JVM, then wait for every process
        this run started (the JVM, the Python workers, the reference
        pool's resource tracker) to exit."""
        try:
            if self.spark is not None:
                self.spark.stop()
                self.spark = None
        finally:
            try:
                self._stop_jvm()
            finally:
                # kills what is still alive after the grace period,
                # the JVM included if stopping it failed
                host.reap_all()
                shutil.rmtree(self.work, ignore_errors=True)

    @staticmethod
    def _stop_jvm() -> None:
        """Shut the Py4J gateway and wait for its JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        # close the Python side first, so nothing talks to a dead JVM
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        # the gateway JVM exits when its stdin reaches EOF
        gateway.proc.stdin.close()
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "paddleocr_spark",
                                       "__init__.py")):
        print("perfbench: paddleocr_spark/ not found; run from the "
              "repository root", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    host.configure_env(root, work)
    sys.path.insert(0, root)
    host.adopt_orphans()
    # a terminated run still stops and waits for what it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run = Run(args, work)
    try:
        result = run.run()
    finally:
        run.close()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
