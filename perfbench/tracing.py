"""Spans around calls into the engine's layers, Spark job statistics by
job group, and process readings from ``/proc``.

Spans are recorded only from the benchmark's own files: :func:`instrument`
wraps public functions of the engine's layers for the traced run and
restores them afterwards. The untraced run patches nothing.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import os
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# (module, functions, layer). A call into a function of a layer already
# open on the same thread records no second span, so a layer's time is
# never counted twice when its functions call each other.
LAYER_FUNCTIONS = (
    ("wfc3_cte_monitor_spark.checkpointing", ("materialize",), "checkpointing"),
    ("wfc3_cte_monitor_spark.functions.dedup", ("has_dup_groups",), "dedup.probe"),
    ("wfc3_cte_monitor_spark.functions.similarity",
     ("ivf_centroids", "ivf_assign", "ivf_refine", "ivf_ann", "ivf_semdedup"), "similarity.ivf"),
    ("wfc3_cte_monitor_spark.operators.connected_components",
     ("connected_components", "incremental_components", "incremental_components_with_reps"),
     "connected_components"),
    ("wfc3_cte_monitor_spark.operators.bpe_batch",
     ("batched_bpe_train", "batched_bpe_train_dict"), "bpe_batch.train"),
    ("wfc3_cte_monitor_spark.plans.pipeline", ("compute_results",), "plans.pipeline"),
)


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float
    result: object = None

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory; each thread has its own stack of open spans,
    so spans opened in the streaming thread nest under that thread's."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open_layers(self) -> set[str]:
        return {s.name for s in self._stack()}

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        s = Span(next(self._ids), stack[-1].id if stack else None, name, time.perf_counter(), 0.0)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(s)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id → duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps merged)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            a, b = max(c.start, s.start), min(c.end, s.end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.id] = s.duration - covered
    return out


def instrument(tracer: Tracer):
    """Wrap every function in :data:`LAYER_FUNCTIONS` in a span named after
    its layer, in its own module and in every engine module that imported
    it by name. Returns a function that restores the originals."""
    restore = []
    for mod_name, fn_names, layer in LAYER_FUNCTIONS:
        # imported here if no engine module has imported it yet: the
        # queries import some layers inside their function bodies
        mod = importlib.import_module(mod_name)
        for fn_name in fn_names:
            orig = getattr(mod, fn_name)
            wrapped = _wrap(tracer, layer, orig)
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith("wfc3_cte_monitor_spark") \
                        and getattr(m, fn_name, None) is orig:
                    setattr(m, fn_name, wrapped)
                    restore.append((m, fn_name, orig))

    def undo() -> None:
        for m, fn_name, orig in restore:
            setattr(m, fn_name, orig)

    return undo


def _wrap(tracer: Tracer, layer: str, fn):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        if layer in tracer.open_layers():
            return fn(*args, **kwargs)
        with tracer.span(layer) as s:
            s.result = fn(*args, **kwargs)
            return s.result

    return wrapper


# --- Spark jobs by job group ------------------------------------------------

STAGE_FIELDS = {
    # StageData accessor → (metric, scale to the metric's unit)
    "executorRunTime": ("task_run_s", 1e-3),
    "executorCpuTime": ("task_cpu_s", 1e-9),
    "jvmGcTime": ("gc_s", 1e-3),
    "shuffleWriteBytes": ("shuffle_write_mb", 1 / 2**20),
    "shuffleReadBytes": ("shuffle_read_mb", 1 / 2**20),
    "memoryBytesSpilled": ("spill_mb", 1 / 2**20),
    "diskBytesSpilled": ("spill_mb", 1 / 2**20),
    "inputBytes": ("input_mb", 1 / 2**20),
    "numCompleteTasks": ("tasks", 1),
}


def group_stats(spark, group: str) -> dict[str, float]:
    """Jobs, executed stages and task metrics of every job in ``group``,
    read from the application status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, **{m: 0.0 for m, _ in STAGE_FIELDS.values()}}
    stage_ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        out["jobs"] += 1
        if info is not None:
            stage_ids.update(info.stageIds)
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception as e:  # py4j: a stage skipped by shuffle reuse has no attempt
            if "NoSuchElementException" not in str(e):
                raise
            continue
        out["stages"] += 1
        for field, (metric, scale) in STAGE_FIELDS.items():
            out[metric] += getattr(st, field)() * scale
    return out


# --- /proc -----------------------------------------------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Processes:
    """The JVM and the Python workers started under this process."""

    def __init__(self) -> None:
        self.root = os.getpid()

    def split(self) -> tuple[list[int], list[int]]:
        jvm, workers = [], []
        for p in descendants(self.root):
            comm = _comm(p)
            if comm == "java":
                jvm.append(p)
            elif comm.startswith("python"):
                workers.append(p)
        return jvm, workers

    def worker_cpu_s(self) -> float:
        """CPU seconds of the live Python workers plus the reaped ones,
        which the kernel adds to their parent's child times."""
        total = 0
        for p in self.split()[1]:
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        return total / _CLK

    def jvm_peak_rss_mb(self) -> float:
        return sum(_status_kb(p, "VmHWM") for p in self.split()[0]) / 1024


class RssSampler:
    """Keeps, for every Python worker seen, the kernel's high-water mark of
    its resident memory, sampled on a thread (a worker's mark is lost
    when it exits, so it is read while the worker lives)."""

    def __init__(self, procs: Processes, interval: float = 0.25) -> None:
        self.procs, self.interval = procs, interval
        self.hwm_kb: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        for p in self.procs.split()[1]:
            self.hwm_kb[p] = max(self.hwm_kb.get(p, 0), _status_kb(p, "VmHWM"))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def workers_peak_mb(self) -> float:
        """The sum of the workers' peaks, the live ones read now."""
        self.sample()
        return sum(self.hwm_kb.values()) / 1024


# --- Spark ERROR log lines --------------------------------------------------

ERROR_LINE = re.compile(rb'^\d{2}/\d{2}/\d{2} \d{2}:\d{2}:\d{2} ERROR |"level":\s*"ERROR"')


class StderrCounter:
    """Passes file descriptor 2 through a pipe to the real stderr and
    counts the Spark ERROR log lines on the way; nothing is dropped.
    Started before the JVM, which inherits the pipe as its stderr."""

    def __init__(self) -> None:
        self.errors = 0
        self._saved = None
        self._thread = None

    def __enter__(self):
        r, w = os.pipe()
        self._saved = os.dup(2)
        sys.stderr.flush()
        os.dup2(w, 2)
        os.close(w)
        self._thread = threading.Thread(target=self._pump, args=(r,), daemon=True)
        self._thread.start()
        return self

    def _pump(self, r: int) -> None:
        buf = b""
        with os.fdopen(r, "rb", buffering=0) as src:
            while chunk := src.read(65536):
                os.write(self._saved, chunk)
                buf += chunk
                *lines, buf = buf.split(b"\n")
                self.errors += sum(1 for ln in lines if ERROR_LINE.search(ln))

    def __exit__(self, *exc) -> None:
        """Restore stderr. The pump drains the pipe until every writer has
        closed it, so stop the JVM first."""
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        self._thread.join(timeout=5)
        if not self._thread.is_alive():
            os.close(self._saved)
