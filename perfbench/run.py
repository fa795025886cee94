#!/usr/bin/env python3
"""Workload benchmark for the engine: the LLM-data corpus, incremental
Results ingest, a clone-heavy corpus and the CTE pipeline.

    python3 perfbench/run.py --workload llm-corpus --seed 1 --seconds 6 --trace 0

Run from the repository root. One closed-loop client: the next query or
micro-batch starts when the previous one has finished. Set-up (inputs,
session, registry; for ingest also the analog tables and the seeded
store) is timed as ``setup_s``; then passes run until ``--seconds`` have
elapsed, at least one. With ``--trace 0`` the last stdout line carries
the end-to-end metrics. With ``--trace 1`` the same passes run traced
(llm-corpus adds one traced t01 after them) and the line carries the
per-layer metrics, including the tracing overhead. Outputs are checked
on every pass; a failed query, micro-batch or check is a failed
operation and the exit code is 1. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import re
import shutil
import sys
import time
from contextlib import contextmanager

import inputs
from checks import canon_rows, load_expected, value_hash
from stats import median, tail
from tracing import (Processes, RssSampler, StderrCounter, Tracer, descendants, group_stats,
                     instrument, self_times)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
# the engine modules whose code derives the ingest workload's FileInfo/Phot
ANALOG_MODULES = ("wfc3_cte_monitor_spark.plans.domain_queries",
                  "wfc3_cte_monitor_spark.sources.catalog")

CTE_QUERIES = ("cs05_results_wide", "cs03_cte_vs_time", "cs04_cte_vs_logflux",
               "n01_quadratic_fit", "n03_model_backtest")
# d02 runs the connected-components loop and the collapse probe, e02 the
# LSH near-duplicate search, the Python similarity kernels and the probe
# again, e01 the IVF index
CORPUS_QUERIES = ("d02_lsh_dedup_pipeline", "e02_ann_neardup", "e01_cosine_topk")
WORKLOADS = ("cte-pipeline", "llm-corpus", "clone-corpus", "results-ingest")

# The input samples are committed and the clone corpus's id remap is fixed
# by CLONE_SEED, so recorded output hashes hold for every run; the benchmark
# seed permutes row order, the cte-pipeline query order and which weeks
# arrive in ingest, none of which may change an output.
CLONE_SEED = 20261017
CLONE_COPIES = {"doc_copies": 10, "vec_copies": 4}  # 200 docs, 250 vectors → 2,000, 1,000
# t01 trains batched BPE in a fixed number of rounds of Spark jobs, which
# costs ~24 s warm on any small corpus: the traced llm-corpus run runs it
# once, on the first BPE_DOCS documents
BPE_QUERY = "t01_token_stats"
BPE_DOCS = 50
INGEST_MAX_BATCHES = 80
# micro-batches per timed ingest pass: a single batch's latency varied by
# up to 15% between runs on a quiet 4-core host, and a pass of two
# averages part of that out at a cost the run budget allows
INGEST_PASS_BATCHES = 2
INGEST_BATCH_TIMEOUT_S = 60
PYTHON_NODE = re.compile(r"\b(ArrowEvalPython|BatchEvalPython|\w+InPandas|MapInArrow|\w*PythonUDTF)\b")

END_TO_END = {"setup_s": "s", "workers_peak_rss_mb": "MB", "pass_s": "s"}
EXEC_SUMS = ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
             "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "input_mb")
PER_LAYER = {
    "session.start_s": "s", "registry.load_s": "s", "warmup_s": "s", "jvm.peak_rss_mb": "MB",
    "plans.build_s": "s", "plans.build_jobs": "count", "plans.build_driver_only_s": "s",
    **{f"plans.query_s.{q}": "s" for q in CTE_QUERIES + CORPUS_QUERIES + (BPE_QUERY,)},
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
    "exec.input_mb": "MB", "exec.core_busy_frac": "ratio",
    "checkpointing.calls": "count", "checkpointing.s": "s",
    "dedup.probe_calls": "count", "dedup.probe_s": "s", "dedup.collapsed_frac": "ratio",
    "similarity.ivf_s": "s",
    "bpe_batch.train_s": "s",
    "connected_components.calls": "count", "connected_components.s": "s",
    "python.worker_cpu_s": "s", "python.eval_nodes": "count",
    "ingest.add_batch_s": "s", "ingest.trigger_overhead_s": "s",
    "ingest.jobs_per_batch": "count", "ingest.write_mb_per_batch": "MB",
    "ingest.store_files": "count", "ingest.store_mb": "MB",
    "spark.log_errors": "count",
    "trace.overhead_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def cpu_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def process_start_epoch() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        stat = f.read()
    start_ticks = int(stat[stat.rindex(")") + 2:].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


class Run:
    """One workload run: the Spark session, its inputs, the client loop
    and the numbers it collects."""

    def __init__(self, args, work: str, log, expected: dict[str, str] | None):
        """``expected`` holds the recorded output hashes; None records
        instead of checking (perfbench/record.py)."""
        self.args, self.work, self.log, self.expected = args, work, log, expected
        self.tracer = Tracer()
        self.rng = random.Random(args.seed)
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.facts: dict = {"workload": args.workload, "seed": args.seed, "cores": self.cores}
        self.phase = "set-up"
        self.layer: dict[str, float] = {}
        self.passes: list[dict] = []  # one dict per timed pass
        self.bpe: dict | None = None  # the traced t01 operation of llm-corpus
        self.trace_s = 0.0  # seconds spent in the tracing's own work

    # --- session & inputs -------------------------------------------------

    def start_session(self):
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
        local = os.path.join(self.work, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        t0 = time.perf_counter()
        import pyspark

        from wfc3_cte_monitor_spark.session import get_spark

        self.spark = get_spark("perfbench", cpus=self.cores, extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "40000",
            "spark.local.dir": local,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        })
        self.sc = self.spark.sparkContext
        self.layer["session.start_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        from wfc3_cte_monitor_spark.plans.registry import load_all

        self.specs = load_all()
        self.layer["registry.load_s"] = time.perf_counter() - t0
        self.procs = Processes()
        self.sampler = RssSampler(self.procs)
        self.sampler.start()
        self.facts["pyspark"] = pyspark.__version__

    def stop_session(self) -> None:
        """Stop Spark, its JVM and the Python workers, and wait for them."""
        from pyspark import SparkContext

        self.sampler.stop()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            if proc is not None:
                proc.terminate()
                proc.wait(timeout=30)
        deadline = time.time() + 30
        while descendants(os.getpid()) and time.time() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, 9)
                os.waitpid(pid, 0)
            except (ProcessLookupError, ChildProcessError):
                pass

    def make_inputs(self) -> str:
        """Write this workload's input tables, rows in seeded order, under
        the run's work directory; returns that directory."""
        import numpy as np
        import pyarrow as pa

        wl = self.args.workload
        if wl in ("cte-pipeline", "results-ingest"):
            tables = inputs.tpch_tables()
        elif wl == "llm-corpus":
            tables = inputs.distinct_corpus()
        else:
            tables = inputs.clone_corpus(np.random.default_rng(CLONE_SEED), **CLONE_COPIES)
        self.facts["inputs_hash"] = inputs.tables_hash(tables)
        want = None if self.expected is None else self.expected.get(f"{wl}/inputs")
        if self.expected is not None and want != self.facts["inputs_hash"]:
            raise RuntimeError(f"input tables {self.facts['inputs_hash']} differ from the "
                               f"recorded {want}: rerun perfbench/record.py")
        self.facts.update(inputs.facts(tables))
        if wl == "llm-corpus":
            self.bpe_data = os.path.join(self.work, "bpe")
            inputs.write_tables({"documents": tables["documents"].slice(0, BPE_DOCS)}, self.bpe_data)
        shuffle = np.random.default_rng(self.args.seed)
        tables = {k: t.take(pa.array(shuffle.permutation(t.num_rows))) for k, t in tables.items()}
        data = os.path.join(self.work, "data")
        inputs.write_tables(tables, data)
        return data

    # --- one operation ----------------------------------------------------

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        print(f"FAILED: {what}", flush=True)

    def run_query(self, name: str, data: str, traced: bool) -> dict:
        """Build the query (the registered ``fn()``), collect it, and check
        its value hash. Returns this operation's timings and statistics."""
        gid = f"pb{len(self.passes)}-{name}-{time.perf_counter_ns()}"
        rec: dict = {"query": name}
        span = self.tracer.span if traced else _no_span
        if traced:
            with self._trace_work():
                cpu0 = self.procs.worker_cpu_s()
        self.sc.setJobGroup(gid + "-build", name)
        w0, t0 = time.time(), time.perf_counter()
        try:
            with span("query"):
                with span("plans.build"):
                    df = self.specs[name].fn(self.spark, data)
                w1, t1 = time.time(), time.perf_counter()
                self.sc.setJobGroup(gid + "-exec", name)
                with span("exec"):
                    rows = df.collect()
            t2 = time.perf_counter()
        except Exception as e:  # a failing query is a failed operation; the run goes on
            self.fail(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return {**rec, "s": time.perf_counter() - t0, "ok": False}
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        got = value_hash(df.columns, rows)
        rec.update(s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1, ok=True, hash=got)
        print(f"op {self.phase} {name}: {t2 - t0:.2f} s (build {t1 - t0:.2f}, "
              f"collect {t2 - t1:.2f}){' traced' if traced else ''}", flush=True)
        want = None if self.expected is None else self.expected.get(f"{self.args.workload}/{name}")
        if self.expected is not None and got != want:
            rec["ok"] = False
            self.fail(f"{name}: output hash {got} != expected {want}")
        if traced:
            with self._trace_work():
                rec["build"] = group_stats(self.spark, gid + "-build")
                rec["exec"] = group_stats(self.spark, gid + "-exec")
                rec["build_driver_only_s"] = (t1 - t0) - self._jobs_busy(gid + "-build", w0, w1)
                rec["python_cpu_s"] = self.procs.worker_cpu_s() - cpu0
                rec["eval_nodes"] = len(PYTHON_NODE.findall(
                    df._jdf.queryExecution().executedPlan().toString()))
        return rec

    @contextmanager
    def _trace_work(self):
        """Time the tracing's own reads and patching: what a traced pass
        spends that an untraced one does not (trace.overhead_s)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.trace_s += time.perf_counter() - t0

    def _jobs_busy(self, group: str, w0: float, w1: float) -> float:
        """Seconds of [w0, w1] during which at least one job of ``group``
        was running, from the jobs' submission and completion times."""
        store = self.sc._jsc.sc().statusStore()
        spans = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            a = sub.get().getTime() / 1e3 if sub.isDefined() else w0
            b = done.get().getTime() / 1e3 if done.isDefined() else w1
            spans.append((max(a, w0), min(b, w1)))
        busy, end = 0.0, w0
        for a, b in sorted(spans):
            a = max(a, end)
            if b > a:
                busy += b - a
                end = b
        return busy

    # --- query workloads --------------------------------------------------

    def query_workload(self, deadline_s: float, traced_mode: bool):
        data = self.make_inputs()
        self.start_session()
        if self.args.workload == "cte-pipeline":
            names = list(CTE_QUERIES)
            self.rng.shuffle(names)
        else:
            names = list(CORPUS_QUERIES)
        self.facts["query_order"] = names
        self.first_timed = time.time()
        end = time.perf_counter() + deadline_s
        while time.perf_counter() < end or not self.passes:
            self._pass(names, data, traced_mode)
        if traced_mode and self.args.workload == "llm-corpus":
            self._bpe_op()
        if traced_mode:
            self.facts["probe_decisions"] = [bool(s.result) for s in self.tracer.named("dedup.probe")]

    def _bpe_op(self) -> None:
        """t01 once, traced, on the first BPE_DOCS documents: the query
        that trains batched BPE (operators.bpe_batch). It runs after the
        passes and outside them, which it would more than double."""
        self.phase = "bpe"
        undo = instrument(self.tracer)
        since = len(self.tracer.spans)
        try:
            self.attempted += 1
            self.bpe = self.run_query(BPE_QUERY, self.bpe_data, traced=True)
        finally:
            undo()
        self.bpe["spans"] = (since, len(self.tracer.spans))

    def _pass(self, names, data, traced: bool) -> None:
        self.phase = f"pass{len(self.passes)}"
        undo = instrument(self.tracer) if traced else None
        since = len(self.tracer.spans) if traced else 0
        t0, trace0 = time.perf_counter(), self.trace_s
        try:
            ops = []
            for name in names:
                self.attempted += 1
                ops.append(self.run_query(name, data, traced))
        finally:
            if undo:
                with self._trace_work():
                    undo()
        self.passes.append({"s": time.perf_counter() - t0, "ops": ops,
                            "trace_s": self.trace_s - trace0, "spans_from": since,
                            "spans_to": len(self.tracer.spans) if traced else 0})

    # --- results-ingest ---------------------------------------------------

    def ingest_workload(self, deadline_s: float, traced_mode: bool):
        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        data = self.make_inputs()
        self.start_session()
        from wfc3_cte_monitor_spark.plans.pipeline import compute_results
        from wfc3_cte_monitor_spark.streaming.incremental import maintain_results_stream

        spark, w = self.spark, self.work
        t0 = time.perf_counter()
        analog = self._analog_tables(data)
        print(f"set-up: analog tables {time.perf_counter() - t0:.2f} s", flush=True)
        fi = spark.read.parquet(f"{analog}/fileinfo")
        ph = spark.read.parquet(f"{analog}/phot")
        fi_arrow = pq.read_table(f"{analog}/fileinfo")
        # stream only weeks in which every target was observed, so every
        # micro-batch carries the same number of exposures
        per_week = pc.value_counts(fi_arrow.column("dateobs")).to_pylist()
        full = max(c["counts"] for c in per_week)
        weeks = sorted(c["values"] for c in per_week if c["counts"] == full)
        n_stream = min(INGEST_MAX_BATCHES, len(weeks) // 2)
        streamed = sorted(self.rng.sample(weeks, n_stream))
        stage, inbox = f"{w}/stage", f"{w}/inbox"
        os.makedirs(stage)
        os.makedirs(inbox)
        batches = []
        for i, d in enumerate(streamed):
            part = fi_arrow.filter(pc.equal(fi_arrow.column("dateobs"), d))
            path = f"{stage}/b{i:04d}.parquet"
            pq.write_table(part, path)
            batches.append((path, part.num_rows))
        snapshot = fi.where(~F.col("dateobs").isin(streamed))
        compute_results(snapshot, ph).write.parquet(f"{w}/store")
        print(f"set-up: store seeded {time.perf_counter() - t0:.2f} s", flush=True)
        self.facts["exposures"] = fi_arrow.num_rows
        self.facts["star_measurements"] = pq.read_table(f"{analog}/phot", columns=["master_id"]).num_rows
        self.facts["stream_dates"] = n_stream
        self.facts["exposures_per_batch"] = sorted({n for _, n in batches})

        stream = spark.readStream.schema(fi.schema).parquet(inbox)
        q = maintain_results_stream(
            spark, stream, snapshot, ph, f"{w}/store", f"{w}/ckpt", ingested_path=f"{w}/ingested",
        ).trigger(processingTime="100 milliseconds").start()
        self.stream = q
        arrived = []
        try:
            self.first_timed = time.time()
            end = time.perf_counter() + deadline_s
            while len(arrived) + INGEST_PASS_BATCHES <= len(batches) \
                    and (time.perf_counter() < end or not self.passes):
                t0 = time.perf_counter()
                recs = []
                for i in range(len(arrived), len(arrived) + INGEST_PASS_BATCHES):
                    rec = self._ingest_batch(i, batches[i], inbox, traced_mode)
                    if rec is None:
                        break  # the stream has stopped; later batches cannot run
                    arrived.append(streamed[i])
                    recs.append(rec)
                if len(recs) < INGEST_PASS_BATCHES:
                    break
                self.passes.append({
                    "s": time.perf_counter() - t0, "ops": [], "batches": recs,
                    "trace_s": sum(r["trace_s"] for r in recs),
                    "spans_from": recs[0]["spans_from"], "spans_to": recs[-1]["spans_to"]})
        finally:
            q.stop()
        latencies = [b["s"] for p in self.passes for b in p["batches"]]
        self.facts["batch_s"] = median(latencies)
        self.facts["timed_batches"] = len(latencies)
        t = tail(latencies)
        if t is not None:  # only runs far longer than the configured ones reach 11 batches
            self.facts["batch_tail"] = {"percentile": t[0], "s": round(t[1], 3)}
        self._check_store(fi.where(~F.col("dateobs").isin(streamed) | F.col("dateobs").isin(arrived)),
                          ph, compute_results)
        self.layer["ingest.store_mb"] = (_du(f"{w}/store") + _du(f"{w}/ingested")) / 2**20
        self.layer["ingest.store_files"] = _nfiles(f"{w}/store") + _nfiles(f"{w}/ingested")

    def _analog_tables(self, data: str) -> str:
        """The directory holding FileInfo/Phot as the engine's analog
        derives them from the orders sample. The first run in a checkout
        derives them (~15 s on a cold JVM, a quarter of a run) and caches
        them under perfbench/.cache, keyed by the sample and by the
        engine files the derivation runs."""
        from importlib.util import find_spec

        from wfc3_cte_monitor_spark.plans.domain_queries import analog_fileinfo, analog_phot

        key = hashlib.sha256(self.facts["inputs_hash"].encode())
        for mod in ANALOG_MODULES:
            with open(find_spec(mod).origin, "rb") as f:
                key.update(f.read())
        cache = os.path.join(CACHE, f"analog-{key.hexdigest()[:16]}")
        self.facts["analog_cached"] = os.path.isdir(cache)
        if not self.facts["analog_cached"]:
            tmp = os.path.join(self.work, "analog")
            analog_fileinfo(self.spark, data).write.parquet(f"{tmp}/fileinfo")
            analog_phot(self.spark, data).write.parquet(f"{tmp}/phot")
            os.makedirs(CACHE, exist_ok=True)
            try:
                os.rename(tmp, cache)
            except OSError:  # a concurrent run cached the same tables first
                pass
        return cache

    def _ingest_batch(self, i: int, batch, inbox: str, traced: bool) -> dict | None:
        """Drop one batch file into the inbox and wait until the stream has
        committed it: the latency a producer of exposures sees. Returns
        the batch's record, or None if it failed."""
        path, _ = batch
        q, w = self.stream, self.work
        undo = instrument(self.tracer) if traced else None
        since = len(self.tracer.spans) if traced else 0
        size0 = _du(f"{w}/ingested") if traced else 0
        cpu0 = self.procs.worker_cpu_s() if traced else 0.0
        self.attempted += 1
        t0, trace0 = time.perf_counter(), self.trace_s
        os.rename(path, os.path.join(inbox, os.path.basename(path)))
        progress = None
        try:
            while time.perf_counter() - t0 < INGEST_BATCH_TIMEOUT_S:
                progress = next((p for p in q.recentProgress
                                 if p.batchId == i and p.numInputRows > 0), None)
                if progress is not None or q.exception() is not None or not q.isActive:
                    break
                time.sleep(0.02)
        finally:
            if undo:
                with self._trace_work():
                    undo()
        s = time.perf_counter() - t0
        if progress is None:
            exc = q.exception()
            self.fail(f"micro-batch {i}: {'timed out' if exc is None else str(exc)[:300]}")
            return None
        print(f"batch {i}: {s:.2f} s{' traced' if traced else ''}", flush=True)
        rec = {"s": s, "trace_s": self.trace_s - trace0, "spans_from": since,
               "spans_to": len(self.tracer.spans) if traced else 0}
        if traced:
            d = progress.durationMs
            rec["add_batch_s"] = d.get("addBatch", 0) / 1e3
            rec["trigger_overhead_s"] = (d.get("triggerExecution", 0) - d.get("addBatch", 0)) / 1e3
            rec["write_mb"] = (_du(f"{w}/store") + _du(f"{w}/ingested") - size0) / 2**20
            rec["python_cpu_s"] = self.procs.worker_cpu_s() - cpu0
        return rec

    def _check_store(self, all_fi, ph, compute_results) -> None:
        self.attempted += 1
        got = self.spark.read.parquet(f"{self.work}/store")
        want = compute_results(all_fi, ph)
        g = canon_rows(got.columns, got.collect())
        e = canon_rows(want.columns, want.collect())
        if got.columns != want.columns or g != e:
            self.fail(f"Results store != compute_results over all exposures "
                      f"({len(g)} vs {len(e)} rows)")

    # --- metrics ------------------------------------------------------------

    def end_to_end(self, setup_s: float, workers_peak_mb: float) -> dict[str, float]:
        return {"setup_s": setup_s, "workers_peak_rss_mb": workers_peak_mb,
                "pass_s": median([p["s"] for p in self.passes])}

    def per_layer(self, setup_s: float) -> dict[str, float]:
        """Every pass of a traced run is traced; per-pass figures are
        means over them, per-batch figures medians."""
        passes = self.passes
        n = len(passes)
        out = {k: 0.0 for k in PER_LAYER}
        out.update(self.layer)
        out["warmup_s"] = setup_s - out["session.start_s"] - out["registry.load_s"]

        def per_pass(total: float) -> float:
            return total / n

        spans = [s for p in passes for s in self.tracer.spans[p["spans_from"]:p["spans_to"]]]
        own = self_times(spans)
        by_layer: dict[str, list] = {}
        for s in spans:
            by_layer.setdefault(s.name, []).append(s)

        def calls(layer: str) -> float:
            return per_pass(len(by_layer.get(layer, ())))

        def seconds(layer: str) -> float:
            """Self time: a layer's spans minus the spans nested in them."""
            return per_pass(sum(own[s.id] for s in by_layer.get(layer, ())))

        out["checkpointing.calls"] = calls("checkpointing")
        out["checkpointing.s"] = seconds("checkpointing")
        pr = by_layer.get("dedup.probe", [])
        out["dedup.probe_calls"] = calls("dedup.probe")
        out["dedup.probe_s"] = seconds("dedup.probe")
        out["dedup.collapsed_frac"] = sum(bool(s.result) for s in pr) / len(pr) if pr else 0.0
        out["similarity.ivf_s"] = seconds("similarity.ivf")
        out["connected_components.calls"] = calls("connected_components")
        out["connected_components.s"] = seconds("connected_components")
        out["trace.overhead_s"] = median([p["trace_s"] for p in passes])
        ops = [op for p in passes for op in p["ops"] if op.get("ok") and "exec" in op]
        if ops:
            out["plans.build_s"] = per_pass(sum(op["build_s"] for op in ops))
            out["plans.build_jobs"] = per_pass(sum(op["build"]["jobs"] for op in ops))
            out["plans.build_driver_only_s"] = per_pass(sum(op["build_driver_only_s"] for op in ops))
            for q in {op["query"] for op in ops}:
                out[f"plans.query_s.{q}"] = median([op["s"] for op in ops if op["query"] == q])
            out["exec.s"] = per_pass(sum(op["exec_s"] for op in ops))
            for k in EXEC_SUMS:
                out[f"exec.{k}"] = per_pass(sum(op["exec"][k] for op in ops))
            out["exec.core_busy_frac"] = out["exec.task_run_s"] / (out["exec.s"] * self.cores)
            out["python.worker_cpu_s"] = per_pass(sum(op["python_cpu_s"] for op in ops))
            out["python.eval_nodes"] = per_pass(sum(op["eval_nodes"] for op in ops))
        if self.bpe is not None and self.bpe["ok"]:
            spans = self.tracer.spans[slice(*self.bpe["spans"])]
            own = self_times(spans)
            out["bpe_batch.train_s"] = sum(own[s.id] for s in spans if s.name == "bpe_batch.train")
            out[f"plans.query_s.{BPE_QUERY}"] = self.bpe["s"]
        if self.args.workload == "results-ingest":
            runid = str(self.stream.runId)
            stats = group_stats(self.spark, runid)
            per_batch = [b for p in passes for b in p["batches"]]
            batches = len(per_batch)
            out["ingest.jobs_per_batch"] = stats["jobs"] / batches
            out["ingest.add_batch_s"] = median([b["add_batch_s"] for b in per_batch])
            out["ingest.trigger_overhead_s"] = median([b["trigger_overhead_s"] for b in per_batch])
            out["ingest.write_mb_per_batch"] = median([b["write_mb"] for b in per_batch])
            out["python.worker_cpu_s"] = median([b["python_cpu_s"] for b in per_batch])
            out["plans.build_s"] = per_pass(sum(s.duration for s in by_layer.get("plans.pipeline", ())))
            for k in EXEC_SUMS:
                out[f"exec.{k}"] = stats[k] / batches
            out["exec.s"] = out["ingest.add_batch_s"]
            out["exec.core_busy_frac"] = out["exec.task_run_s"] / (out["exec.s"] * self.cores)
        out["spark.log_errors"] = self.log.errors
        return out


@contextmanager
def _no_span(_name):
    yield None


def _du(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _nfiles(path: str) -> int:
    return sum(len(files) for _root, _dirs, files in os.walk(path))


def main(argv=None) -> int:
    args = parse_args(argv)
    started = process_start_epoch()
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    steal0 = cpu_steal_s()
    try:
        with StderrCounter() as log:
            run = Run(args, work, log, load_expected())
            try:
                body = run.ingest_workload if args.workload == "results-ingest" else run.query_workload
                body(args.seconds, bool(args.trace))
                workers_peak = run.sampler.workers_peak_mb()
                run.layer["jvm.peak_rss_mb"] = run.procs.jvm_peak_rss_mb()
                run.facts["jvm_peak_rss_mb"] = round(run.layer["jvm.peak_rss_mb"], 1)
                setup_s = run.first_timed - started
                if args.trace:
                    metrics, units = run.per_layer(setup_s), PER_LAYER
                    run.facts["traced_pass_s"] = median([p["s"] for p in run.passes])
                else:
                    metrics, units = run.end_to_end(setup_s, workers_peak), END_TO_END
            finally:
                if getattr(run, "spark", None) is not None:
                    run.stop_session()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's directory is still there
    run.facts["timed_passes"] = len(run.passes)
    run.facts["cpu_steal_s"] = round(cpu_steal_s() - steal0, 2)
    print(json.dumps({"facts": run.facts, "failures": run.failures}), flush=True)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
