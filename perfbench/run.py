#!/usr/bin/env python3
"""Benchmark of the extraction engine and the query registry.

Run from the repository root::

    python3 perfbench/run.py --workload extract_unique_pages --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):

* ``extract_unique_pages`` -- ``run_extraction(...).write.parquet`` over docs
  whose pages are nearly all distinct: the kernel-bound path.
* ``registry_mix`` -- ``__spark_entry__.queries()`` leaves in seeded order,
  each written to the ``noop`` sink: scans, exchanges and planning, no kernels.

One run: generate (or reuse) the seeded inputs and their oracle results,
start the SparkSession cold and make a first pass, then rounds of one
restart (a set-up sample) and one steady pass, at least ``SETUP_SAMPLES``
of them. With ``--trace 0`` the end-to-end metrics are
printed; with ``--trace 1`` a traced run collects the per-layer metrics from
spans around the calls into each layer, in-process kernel timings and
Spark's event log.
Outputs are checked against the oracles after the timed passes; the last
line of stdout is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "document_quality_assessment_ocr_spark"

WORKLOADS = ("extract_unique_pages", "registry_mix")

#: the registry mix timed end to end, in an order shuffled by the seed: the
#: leaves ROADMAP item 3 targets (scan-parallelism guard, exchanges) plus
#: two sub-second ones
TIMED_QUERIES = (
    "q07_reassembly",
    "q64_cdc_upsert",
    "q84_quality_classifier",
    "q86_snapshot_diff",
    "q164_funnel",
    "q191_l_diversity",
)
#: timed only in the traced run: in every untraced run they would cost ~25 s
#: more (first, warm and steady passes, plus q31's ~4 s DuckDB oracle), more
#: than the run budget can carry
TRACE_ONLY_QUERIES = (
    "q25_lsh_jaccard",
    "q31_dup_clusters",
    "q124_heavy_hitters",
    "q143_bt_strength",
    "q146_binary_topk",
    "q213_bitext_margin",
)
ALL_QUERIES = TIMED_QUERIES + TRACE_ONLY_QUERIES

KERNELS = (
    "content_ratio",
    "brightness_with_trim",
    "blur_laplacian_var",
    "skew_degrees",
    "watermark_fft",
    "noise_percent",
    "entropy256",
    "estimate_dpi",
)
DRIVER_MEM = "2g"
#: least number of restart-and-pass rounds per untraced run; ``setup_s``
#: is the median of the restarts, ``pass_s`` of the passes
SETUP_SAMPLES = 3
#: steady passes in one session of a traced run, at least
MIN_PASSES = 2
SAMPLE_PAGES = 24  # pages timed in-process per traced run
LAYER_SLACK = 0.15  # stated slack for layer times vs the traced pass wall
CLOSE_TIMEOUT_S = 30  # wait this long for the JVM and workers to exit

END_TO_END = {
    "setup_s": "s",
    "docs_per_s": "docs/s",
    "pass_s": "s",
    "query_geomean_s": "s",
    "peak_rss_mb": "MB",
    "ops_ok_share": "ratio",
}


def _per_layer_units() -> dict[str, str]:
    u = {
        "session.start_s": "s",
        "session.worker_warmup_s": "s",
        "session.first_pass_extra_s": "s",
        "sources.tables.scan_s": "s",
        "sources.tables.repartitions": "count",
        "png.decode_ms": "ms",
    }
    u.update({f"kernels.{k}_ms": "ms" for k in KERNELS})
    u["kernels.estimate_dpi.read_share"] = "ratio"
    u.update(
        {
            "functions.udfs.score_stage_s": "s",
            "functions.udfs.python_run_ms": "ms",
            "functions.udfs.python_start_ms": "ms",
            "functions.udfs.python_data_sent_mb": "MB",
            "functions.udfs.python_data_received_mb": "MB",
            "functions.udfs.transfer_ms_per_page": "ms",
            "functions.udfs.score_tasks": "count",
            "functions.udfs.score_slot_busy_share": "ratio",
            "functions.udfs.pages_per_media_span": "ratio",
            "plans.pipeline.span_side_s": "s",
            "plans.pipeline.write_s": "s",
            "plans.pipeline.dedup_executor_ms": "ms",
            "plans.pipeline.explode_join_executor_ms": "ms",
            "plans.pipeline.aggregate_fold_executor_ms": "ms",
            "plans.pipeline.shuffle_write_mb": "MB",
            "plans.pipeline.shuffle_read_mb": "MB",
            "plans.pipeline.spill_mb": "MB",
            "plans.pipeline.reduce_task_skew": "ratio",
            "plans.pipeline.spans_kept_share": "ratio",
        }
    )
    for q in ALL_QUERIES:
        u[f"registry.{q}_s"] = "s"
        u[f"registry.{q}.exchanges"] = "count"
    u.update(
        {
            "spark.jobs": "count",
            "spark.stages": "count",
            "spark.tasks": "count",
            "spark.gc_ms": "ms",
            "trace.wall_s": "s",
            "trace.layers_s": "s",
            "trace.gap_share": "ratio",
            "trace.overhead_s": "s",
        }
    )
    return u


PER_LAYER = _per_layer_units()


def log(*a) -> None:
    print("[perfbench]", *a, file=sys.stderr, flush=True)


def geomean(xs) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        import inputs
        from tracing import PeakRss, Tracer

        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.cache = os.path.join(ROOT, ".perfbench_cache")
        self.nproc = max(1, os.cpu_count() or 1)
        self.tracer = Tracer(enabled=trace)
        self.rss = PeakRss()
        self.spark = None
        self.setups: list[float] = []
        self.session_parts: list[tuple[float, float]] = []
        self.attempted = self.failed = 0
        self.notes: dict = {}
        shutil.rmtree(self.work, ignore_errors=True)
        for d in ("tmp", "local", "warehouse", "eventlog"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        # keep every file the run writes inside the checkout
        os.environ["TMPDIR"] = os.path.join(self.work, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"
        # a fixed driver heap: with the 8 GB default the peak RSS follows
        # the JVM's heap-growth heuristics more than the program
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        self.in_dir = inputs.input_dir(self.cache, workload, seed)
        self.stats: dict = {}
        self.warm_dir = self._warmup_payloads()

    def prepare(self) -> None:
        """Generate (or reuse) this seed's inputs and compute the expected
        outputs; subclasses add the oracle."""
        import inputs

        t0 = time.perf_counter()
        self.in_dir, self.stats = inputs.prepare(self.cache, self.workload, self.seed)
        self.notes["inputs_s"] = time.perf_counter() - t0
        log(f"inputs {self.workload} seed={self.seed}: {self.stats}")

    # ---- session -------------------------------------------------------

    def _warmup_payloads(self) -> str:
        """A fixed nproc-page payload table for the worker warm-up job (the
        same for every workload and seed): one task, so one Python worker,
        per core."""
        import inputs
        import pyarrow as pa
        import pyarrow.parquet as pq

        from document_quality_assessment_ocr_spark.sources import fixtures

        path = os.path.join(self.cache, f"warmup-{self.nproc}-g{inputs.GEN_VERSION}.parquet")
        if not os.path.exists(path):
            blobs = [inputs.render_page(0, i) for i in range(self.nproc)]
            rows = [
                {"media_ref": f"w{i}", "width": inputs.PAGE_W, "height": inputs.PAGE_H, "dpi": 200, "png": b}
                for i, b in enumerate(blobs)
            ]
            os.makedirs(self.cache, exist_ok=True)
            pq.write_table(pa.Table.from_pylist(rows, schema=fixtures.PAYLOADS_SCHEMA), path + ".tmp")
            os.replace(path + ".tmp", path)
        return path

    def start_session(self, event_log: str | None = None) -> None:
        """Stop the current session (if any), start a new one and run the
        Python-worker warm-up job; both parts are one set-up sample."""
        from pyspark.sql import functions as F

        from document_quality_assessment_ocr_spark.plans.pipeline import score_payload_table
        from document_quality_assessment_ocr_spark.session import get_spark
        from document_quality_assessment_ocr_spark.sources import tables

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + event_log
            conf["spark.eventLog.compress"] = "false"
        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", master=f"local[{self.nproc}]", extra_conf=conf)
            t1 = time.perf_counter()
        with self.tracer.span("session.worker_warmup"):
            warm = tables.read_payloads(self.spark, self.warm_dir).repartition(self.nproc)
            score_payload_table(warm).select(F.count("ms.lap_var")).collect()
            t2 = time.perf_counter()
        self.setups.append(t2 - t0)
        self.session_parts.append((t1 - t0, t2 - t1))
        log(f"setup {len(self.setups)}: session {t1 - t0:.3f}s + warm-up {t2 - t1:.3f}s")

    def job_group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session, then the JVM behind it, and wait until every
        process the run started has ended: the JVM and the Python workers it
        forked. The JVM outlives ``spark.stop()`` and exits only when its
        stdin pipe closes, which would otherwise happen after this process
        has exited, with no one waiting for it."""
        import signal
        import subprocess

        from pyspark import SparkContext
        from tracing import descendants, wait_ended

        self.stop()
        started = descendants(os.getpid())
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=CLOSE_TIMEOUT_S)
                except subprocess.TimeoutExpired:
                    log(f"the JVM did not exit within {CLOSE_TIMEOUT_S}s; killing it")
                    proc.kill()
                    proc.wait()
        left = wait_ended(started, CLOSE_TIMEOUT_S)
        if left:
            log(f"killing processes that did not exit: {left}")
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            wait_ended(left, CLOSE_TIMEOUT_S)

    # ---- steady passes ---------------------------------------------------

    def run(self) -> dict:
        """A child process writes this seed's inputs and oracle results to
        the cache while the session starts cold; the run then reads them
        back. The cold start is therefore not a set-up sample: an untraced
        run restarts at least ``SETUP_SAMPLES`` times for those, between its
        steady passes (``restart_passes``); a traced run restarts once, so
        that its passes too follow a restart, and makes them in one session
        (``session_passes``)."""
        import multiprocessing

        child = multiprocessing.get_context("fork").Process(target=self.prepare, name="perfbench-prepare")
        child.start()
        try:
            self.start_session()
        finally:
            child.join()
        if child.exitcode != 0:
            raise RuntimeError(f"preparing inputs and oracle results failed (exit code {child.exitcode})")
        self.prepare()
        with self.rss:
            if self.trace:
                self.start_session()
                first, passes = self.session_passes()
                return self.traced(first, [sum(p) for p in passes])
            first, passes = self.restart_passes()
            self.check()
            self.stop()
        walls = [sum(p) for p in passes]
        log(f"passes: first {first:.3f}s steady {[round(w, 3) for w in walls]}")
        log(f"peak RSS per pass (MB): {[round(b / 2**20) for b in self.rss.peaks]}")
        pass_s = statistics.median(walls)
        return self.result(
            {
                "setup_s": statistics.median(self.setups[1:]),
                "pass_s": pass_s,
                "docs_per_s": self.stats["docs"] / pass_s,
                "query_geomean_s": statistics.median(geomean(p) for p in passes),
                "peak_rss_mb": self.rss.median_peak_mb,
                "ops_ok_share": 1.0 - self.failed / max(1, self.attempted),
            }
        )

    def restart_passes(self) -> tuple[float, list[list[float]]]:
        """A first pass in the cold session, then rounds of one restart (a
        set-up sample) and one steady pass: at least ``SETUP_SAMPLES``
        rounds, and more until the steady passes add up to ``--seconds``.
        Spreading the steady passes over the run, between the restarts,
        makes their median follow the host's speed over the whole run
        rather than over its last seconds."""
        first = self.first_pass()
        passes: list[list[float]] = []
        while len(passes) < SETUP_SAMPLES or sum(map(sum, passes)) < self.seconds:
            self.start_session()
            with self.rss.sampling():
                passes.append(self.one_pass())
        return first, passes

    def session_passes(self, n_steady: int | None = None) -> tuple[float, list[list[float]]]:
        """A first pass, then steady passes in the same session:
        ``n_steady`` of them, or by default until they add up to
        ``--seconds`` (at least ``MIN_PASSES``)."""
        with self.tracer.span("pass.first"):
            first = self.first_pass()
        passes: list[list[float]] = []
        while (
            len(passes) < n_steady
            if n_steady is not None
            else len(passes) < MIN_PASSES or sum(map(sum, passes)) < self.seconds
        ):
            with self.tracer.span("pass.steady"), self.rss.sampling():
                passes.append(self.one_pass())
        return first, passes

    def traced_session(self, log_dir: str, n_steady: int) -> list[float]:
        """Restart with the event log on and repeat the untraced session's
        first and steady passes but the last; the caller makes the
        last steady pass under its own job groups. Returns the walls of the
        steady passes made here."""
        self.start_session(event_log=log_dir)
        self.job_group("pass.session")
        _, passes = self.session_passes(n_steady - 1)
        return [sum(p) for p in passes]

    def untraced_session(self, n_steady: int) -> list[float]:
        """Restart without the event log, repeat the first and ``n_steady``
        steady passes and stop; returns the steady walls."""
        self.start_session()
        _, passes = self.session_passes(n_steady)
        self.stop()
        return [sum(p) for p in passes]

    def finish_trace(self, m: dict, pass_g, wall: float, before: list[float], traced: list[float],
                     after: list[float], layers: dict) -> dict:
        """``wall`` is the last traced steady pass and ``traced`` the walls of
        all steady passes of the traced session; ``before`` and ``after``
        are those of the untraced sessions around it. Passes get faster from
        one session to the next in the same JVM, so the tracing overhead
        compares the traced median with the mean of the two untraced ones."""
        from tracing import reconcile

        rec = reconcile(wall, layers, LAYER_SLACK)
        m.update(
            {
                "spark.jobs": pass_g.jobs,
                "spark.stages": len(pass_g.stages),
                "spark.tasks": pass_g.tasks,
                "spark.gc_ms": pass_g.total("gc_ms"),
                "trace.wall_s": wall,
                "trace.layers_s": rec["layers_s"],
                "trace.gap_share": rec["gap_share"],
                "trace.overhead_s": statistics.median(traced)
                - (statistics.median(before) + statistics.median(after)) / 2,
            }
        )
        report = {
            "workload": self.workload,
            "seed": self.seed,
            "reconcile": rec,
            "self_s": self.tracer.self_times(),
            "spans": self.tracer.spans,
            "setups_s": self.setups,
        }
        path = os.path.join(self.work, f"trace-{self.workload}-s{self.seed}.json")
        with open(path, "w") as f:
            json.dump(report, f, indent=1)
        log(f"steady passes: untraced {before}, traced {traced}, untraced again {after}")
        log(f"reconcile: {rec}")
        log("self time (s): " + ", ".join(f"{k}={v:.3f}" for k, v in sorted(report["self_s"].items())))
        return self.result(m)

    def result(self, metrics: dict) -> dict:
        units = PER_LAYER if self.trace else END_TO_END
        missing = set(units) - set(metrics)
        if missing:
            raise RuntimeError(f"metrics not measured: {sorted(missing)}")
        return {
            "correct": self.failed == 0,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": units[k]} for k in units},
        }


# ---------------------------------------------------------------------------
# extraction
# ---------------------------------------------------------------------------


class ExtractionBench(Bench):
    def prepare(self) -> None:
        import inputs
        import oracles

        from document_quality_assessment_ocr_spark import oracle

        super().prepare()
        self.spans_path = os.path.join(self.in_dir, "spans.parquet")
        self.pay_dir = os.path.join(self.in_dir, "payloads")
        self.sink = os.path.join(self.work, "out")
        self.rows, self.payloads = inputs.read_rows(self.in_dir)
        t0 = time.perf_counter()
        key = f"{self.workload}-s{self.seed}-g{inputs.GEN_VERSION}-{oracles.digest(os.path.join(ROOT, PKG), oracles.ORACLE_SOURCES)}"
        self.expected = oracles.cached(
            os.path.join(self.cache, "oracle", key + ".pkl"), lambda: oracle.evaluate_corpus(self.rows, self.payloads))
        self.notes["oracle_s"] = time.perf_counter() - t0
        log(f"oracle results: {self.notes['oracle_s']:.2f}s")

    def frames(self):
        from document_quality_assessment_ocr_spark.sources import tables

        return tables.read_spans(self.spark, self.spans_path), tables.read_payloads(self.spark, self.pay_dir)

    def one_pass(self) -> list[float]:
        """One user-visible pass: read both tables, extract, write parquet."""
        from document_quality_assessment_ocr_spark.plans.pipeline import run_extraction

        t0 = time.perf_counter()
        spans, pays = self.frames()
        run_extraction(spans, pays, assume_unique_doc_ids=True).write.mode("overwrite").parquet(self.sink)
        return [time.perf_counter() - t0]

    def first_pass(self) -> float:
        return sum(self.one_pass())

    def check(self) -> list:
        import oracles
        import pyarrow.parquet as pq

        rows = pq.read_table(self.sink).to_pylist()
        res = oracles.check_extraction(rows, self.expected)
        self.attempted += res["attempted"]
        self.failed += res["failed"]
        log(f"check: {res}")
        return rows

    # ---- traced run --------------------------------------------------------

    def kernel_sample(self) -> dict:
        """ms per page of decode and each kernel, timed in-process on a
        fixed sample of this workload's pages."""
        from document_quality_assessment_ocr_spark import kernels, png

        refs = sorted(self.payloads)
        step = max(1, len(refs) // SAMPLE_PAGES)
        sample = refs[::step][:SAMPLE_PAGES]
        tot = {k: 0.0 for k in ("decode",) + KERNELS}
        for ref in sample:
            t0 = time.perf_counter()
            with self.tracer.span("png.decode"):
                arr, _ = png.decode_gray(bytes(self.payloads[ref]["png"]))
            tot["decode"] += time.perf_counter() - t0
            for k in KERNELS:
                t0 = time.perf_counter()
                with self.tracer.span(f"kernels.{k}"):
                    getattr(kernels, k)(arr)
                tot[k] += time.perf_counter() - t0
        return {k: 1000.0 * v / len(sample) for k, v in tot.items()}

    def traced(self, first: float, untraced: list[float]) -> dict:
        import inputs
        from eventlog import EventLog

        from document_quality_assessment_ocr_spark.plans.pipeline import run_extraction, score_payload_table

        cold_session, cold_warm = self.session_parts[0]
        log_dir = os.path.join(self.work, "eventlog", "extract")
        traced_walls = self.traced_session(log_dir, len(untraced))
        noop = lambda df: df.write.mode("overwrite").format("noop").save()  # noqa: E731
        walls = {}

        def timed(name: str, fn) -> None:
            self.job_group(name)
            with self.tracer.span(name):
                t0 = time.perf_counter()
                fn()
                walls[name] = time.perf_counter() - t0

        spans, pays = self.frames()
        with self.tracer.span("traced"):
            with self.rss.sampling():
                timed("pass.traced", self.one_pass)
            traced_walls.append(walls["pass.traced"])
            timed("sources.tables.scan", lambda: (noop(spans), noop(pays)))
            timed("functions.udfs.score", lambda: noop(score_payload_table(pays)))
            scored = score_payload_table(pays).persist()
            self.job_group("persist")
            scored.count()
            side = lambda: run_extraction(spans, pays, assume_unique_doc_ids=True, scored_payloads=scored)  # noqa: E731
            self.job_group("warm")  # the span side's first run in this session
            noop(side())
            timed("plans.pipeline.span_side", lambda: noop(side()))
            timed("plans.pipeline.span_side_parquet",
                  lambda: side().write.mode("overwrite").parquet(self.sink + "_side"))
            # the program's default path, which the timed pass skips:
            # dedup_last_wins before the explode
            dedup_side = lambda: run_extraction(spans, pays, scored_payloads=scored)  # noqa: E731
            self.job_group("warm")
            noop(dedup_side())
            timed("plans.pipeline.dedup_side", lambda: noop(dedup_side()))
            scored.unpersist()
        ks = self.kernel_sample()
        after = self.untraced_session(len(untraced))
        out_rows = self.check()
        ev = EventLog(log_dir)

        score = ev.group("functions.udfs.score")
        side_g = ev.group("plans.pipeline.span_side")
        pass_g = ev.group("pass.traced")
        n_pages = len(self.payloads)
        py_run = score.metric("time to run Python workers")
        compute_ms = n_pages * (ks["decode"] + sum(ks[k] for k in KERNELS))
        score_wall = sum(s.wall_ms for s in score.stages)

        _, explode, agg_fold = _pipeline_breakdown(side_g)
        dedup, _, _ = _pipeline_breakdown(ev.group("plans.pipeline.dedup_side"))
        reduce = [s for s in side_g.stages if s.shuffle_read > 0]
        skew = 0.0
        if reduce:
            hot = max(reduce, key=lambda s: s.run_ms)
            skew = max(hot.task_run_ms) / max(1.0, statistics.median(hot.task_run_ms))
        kept = sum(len(r["spans"] or []) for r in out_rows)
        n_spans = sum(len(r["spans"]) for r in inputs.latest_rows(self.rows).values())

        untraced_med = statistics.median(untraced)
        layers = {
            "functions.udfs.score": walls["functions.udfs.score"],
            "plans.pipeline.span_side": walls["plans.pipeline.span_side"],
            "plans.pipeline.write": walls["plans.pipeline.span_side_parquet"] - walls["plans.pipeline.span_side"],
        }
        m = {
            "session.start_s": cold_session,
            "session.worker_warmup_s": cold_warm,
            "session.first_pass_extra_s": first - untraced_med,
            "sources.tables.scan_s": walls["sources.tables.scan"],
            "sources.tables.repartitions": pass_g.count_nodes(
                lambda n: n["nodeName"] == "Exchange" and "RoundRobinPartitioning" in n.get("simpleString", "")),
            "png.decode_ms": ks["decode"],
            "kernels.estimate_dpi.read_share": inputs.k8_read_share(self.rows, self.payloads),
            "functions.udfs.score_stage_s": walls["functions.udfs.score"],
            "functions.udfs.python_run_ms": py_run,
            "functions.udfs.python_start_ms": score.metric("time to start Python workers"),
            "functions.udfs.python_data_sent_mb": score.metric("data sent to Python workers") / 2**20,
            "functions.udfs.python_data_received_mb": score.metric("data returned from Python workers") / 2**20,
            "functions.udfs.transfer_ms_per_page": (py_run - compute_ms) / max(1, n_pages),
            "functions.udfs.score_tasks": score.tasks,
            "functions.udfs.score_slot_busy_share": score.total("run_ms") / max(1.0, score_wall * self.nproc),
            "functions.udfs.pages_per_media_span": self.stats["distinct_pages"] / max(1, self.stats["media_spans"]),
            "plans.pipeline.span_side_s": walls["plans.pipeline.span_side"],
            "plans.pipeline.write_s": layers["plans.pipeline.write"],
            "plans.pipeline.dedup_executor_ms": dedup,
            "plans.pipeline.explode_join_executor_ms": explode,
            "plans.pipeline.aggregate_fold_executor_ms": agg_fold,
            "plans.pipeline.shuffle_write_mb": side_g.total("shuffle_write") / 2**20,
            "plans.pipeline.shuffle_read_mb": side_g.total("shuffle_read") / 2**20,
            "plans.pipeline.spill_mb": side_g.total("spill") / 2**20,
            "plans.pipeline.reduce_task_skew": skew,
            "plans.pipeline.spans_kept_share": kept / max(1, n_spans),
        }
        m.update({f"kernels.{k}_ms": ks[k] for k in KERNELS})
        for q in ALL_QUERIES:  # the registry layer does not run here
            m[f"registry.{q}_s"] = 0.0
            m[f"registry.{q}.exchanges"] = 0
        return self.finish_trace(m, pass_g, walls["pass.traced"], untraced, traced_walls, after, layers)


def _pipeline_breakdown(g) -> tuple[float, float, float]:
    """Executor ms of a span-side job group split into (dedup, explode and
    join, aggregate and fold), by the plan nodes each stage updated.

    The dedup's ``max_by`` runs as a SortAggregate, which times nothing
    itself: its map stage counts whole, and in the reduce stage that it
    shares with the explode its Sort's time stands for it."""
    from eventlog import AGG_NODES

    dedup = explode = agg_fold = 0.0
    for st in g.stages:
        nodes = g.stage_nodes(st)
        names = {name for name, _ in nodes}
        holds_dedup = any(name in AGG_NODES and "max_by" in desc for name, desc in nodes)
        agg_all = g.node_metric(st, "time in aggregation build")
        agg_doc = g.node_metric(st, "time in aggregation build", contains="collect_list")
        if "Generate" in names:
            sort_ms = g.node_metric(st, "sort time", node_names=("Sort",)) if holds_dedup else 0.0
            explode += st.run_ms - agg_all - sort_ms
            dedup += sort_ms + g.node_metric(st, "time in aggregation build", contains="max_by")
            agg_fold += agg_doc
        elif holds_dedup:
            dedup += st.run_ms
        elif names & set(AGG_NODES):
            agg_fold += st.run_ms
    return dedup, explode, agg_fold


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


class RegistryBench(Bench):
    def prepare(self) -> None:
        import importlib.util

        import inputs
        import oracles

        super().prepare()
        # oracle builders that read data read this run's tables
        os.environ["SPARK_GRAFT_ORACLE_SF"] = self.in_dir
        spec = importlib.util.spec_from_file_location("__spark_entry__", os.path.join(ROOT, "__spark_entry__.py"))
        self.entry = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.entry)
        self.qs = self.entry.queries()
        self.order = list(TIMED_QUERIES)
        random.Random(self.seed).shuffle(self.order)
        t0 = time.perf_counter()

        def expected() -> dict:
            full = self.entry.oracle_sql()
            return oracles.duckdb_expected(self.in_dir, {n: full[n] for n in TIMED_QUERIES})

        key = f"{self.workload}-s{self.seed}-g{inputs.GEN_VERSION}-{oracles.digest(ROOT, ('__spark_entry__.py',))}"
        self.expected = oracles.cached(os.path.join(self.cache, "oracle", key + ".pkl"), expected)
        self.notes["oracle_s"] = time.perf_counter() - t0
        log(f"oracle results: {self.notes['oracle_s']:.2f}s")

    def run_query(self, name: str) -> float:
        """One execution to the ``noop`` sink; each one is an operation,
        failed if it raises."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            self.qs[name](self.spark, self.in_dir).write.mode("overwrite").format("noop").save()
        except Exception as e:
            log(f"{name} raised: {e!r}")
            self.failed += 1
        return time.perf_counter() - t0

    def one_pass(self) -> list[float]:
        times = [self.run_query(q) for q in self.order]
        log("pass: " + ", ".join(f"{q}={t:.3f}" for q, t in zip(self.order, times)))
        return times

    def first_pass(self) -> float:
        """Cold pass; collects every result for the oracle check."""
        import oracles

        total = 0.0
        for q in self.order:
            t0 = time.perf_counter()
            try:
                pdf = self.qs[q](self.spark, self.in_dir).toPandas()
                total += time.perf_counter() - t0
                why = oracles.frames_match(pdf, self.expected[q])
            except Exception as e:
                why = f"raised {e!r}"
            self.attempted += 1
            if why:
                self.failed += 1
                log(f"{q} differs from its oracle: {why}")
        return total

    def check(self) -> None:
        """Results were checked in the first pass."""

    def traced(self, first: float, untraced_passes: list[float]) -> dict:
        from eventlog import EventLog

        cold_session, cold_warm = self.session_parts[0]
        untraced = statistics.median(untraced_passes)
        log_dir = os.path.join(self.work, "eventlog", "registry")
        traced_walls = self.traced_session(log_dir, len(untraced_passes))
        per_q = {}
        with self.tracer.span("traced"):
            with self.tracer.span("registry.pass"), self.rss.sampling():
                t0 = time.perf_counter()
                for q in self.order:
                    self.job_group(q)
                    with self.tracer.span(f"registry.{q}"):
                        per_q[q] = self.run_query(q)
                wall = time.perf_counter() - t0
            traced_walls.append(wall)
            self.job_group("sources.tables.scan")
            with self.tracer.span("sources.tables.scan"):
                t0 = time.perf_counter()
                for t in ("documents", "events", "embeddings"):
                    self.spark.read.parquet(os.path.join(self.in_dir, f"{t}.parquet")).write.mode(
                        "overwrite").format("noop").save()
                scan_s = time.perf_counter() - t0
            for q in TRACE_ONLY_QUERIES:
                self.job_group(q)
                with self.tracer.span(f"registry.{q}"):
                    per_q[q] = self.run_query(q)
        after = self.untraced_session(len(untraced_passes))
        ev = EventLog(log_dir)
        m = {
            "session.start_s": cold_session,
            "session.worker_warmup_s": cold_warm,
            "session.first_pass_extra_s": first - untraced,
            "sources.tables.scan_s": scan_s,
        }
        rr = 0
        for q in ALL_QUERIES:
            g = ev.group(q)
            m[f"registry.{q}_s"] = per_q[q]
            m[f"registry.{q}.exchanges"] = g.count_nodes(lambda n: n["nodeName"] == "Exchange")
            if q in TIMED_QUERIES:
                rr += g.count_nodes(
                    lambda n: n["nodeName"] == "Exchange" and "RoundRobinPartitioning" in n.get("simpleString", ""))
        m["sources.tables.repartitions"] = rr
        # layers that do not run on this workload
        for k in PER_LAYER:
            if k.split(".")[0] in ("png", "kernels", "functions", "plans"):
                m[k] = 0.0
        pass_g = _merge_groups(ev, self.order)
        layers = {f"registry.{q}": per_q[q] for q in self.order}
        return self.finish_trace(m, pass_g, wall, untraced_passes, traced_walls, after, layers)


def _merge_groups(ev, names):
    from eventlog import Group

    gs = [ev.group(n) for n in names]
    return Group(ev, sum(g.jobs for g in gs), [s for g in gs for s in g.stages], [x for g in gs for x in g.sql])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)) or not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        log(f"the program is not here: {ROOT} has no {PKG}/ or __spark_entry__.py")
        return 2
    sys.path.insert(0, ROOT)
    cls = ExtractionBench if args.workload.startswith("extract") else RegistryBench
    t0 = time.perf_counter()
    bench = cls(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = bench.run()
    finally:
        bench.close()
    log(f"notes: {bench.notes}, total {time.perf_counter() - t0:.1f}s")
    print(json.dumps(res), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
