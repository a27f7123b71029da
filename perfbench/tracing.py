"""Per-layer tracing from outside the engine.

:class:`Tracer` wraps the public functions of each layer (found by name,
rebound wherever the engine imported them) in a span. At every span
boundary it reads Spark's own status store: the ids of jobs that appeared
since the last read (``statusTracker``) and, for each of their stages,
the last attempt's metrics (``AppStatusStore.lastStageAttempt``). A stage
belongs to every span that was open when it was first read, so nested
spans report inclusive numbers and a stage re-listed by a later job (a
reused shuffle) is never counted twice. Both readers work with
``spark.ui.enabled=false``.

A job or stage id the store no longer holds raises :class:`EvictedError`,
and one read before it has finished raises :class:`IncompleteError`:
either way the counts would be silently low. Each read first drains the
listener bus that feeds the store.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from dataclasses import dataclass, field

# layer name → the engine functions it wraps, as (module, attribute).
# A function a later version of the engine no longer has makes its layer
# report as absent; it does not stop the run.
LAYERS: dict[str, tuple[tuple[str, str], ...]] = {
    "sources.read": (
        ("reflexiv_spark.sources.records", "read_fastq"),
        ("pyspark.sql.readwriter", "DataFrameReader.parquet"),
    ),
    "counter": (("reflexiv_spark.operators.counter", "count_kmers"),),
    "assemble": (
        ("reflexiv_spark.pipelines.assemble", "expand_orientations"),
        ("reflexiv_spark.pipelines.assemble", "prune_forks"),
    ),
    "extension": (
        ("reflexiv_spark.operators.extension", "to_paths"),
        ("reflexiv_spark.operators.extension", "extend_to_convergence"),
        ("reflexiv_spark.operators.extension", "rank_paths"),
    ),
    # the CLI's output edge: write_fasta for contigs, Parquet otherwise
    "sources.write": (("reflexiv_spark.__main__", "_write"),),
    "meta": (("reflexiv_spark.pipelines.meta", "meta_assemble"),),
    "datapipe.text": (("reflexiv_spark.datapipe.text", "quality_score"),),
    "datapipe.dedup": (
        ("reflexiv_spark.datapipe.dedup", "exact_dedup"),
        ("reflexiv_spark.datapipe.dedup", "minhash_dedup"),
    ),
}

LAYER_METRICS = (
    ("wall_s", "s", "lower"),
    ("jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("executor_cpu_s", "s", "lower"),
    ("gc_s", "s", "lower"),
    ("shuffle_read_bytes", "bytes", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("spill_bytes", "bytes", "lower"),
    ("rows_out", "count", "lower"),
)

_STAGE_FIELDS = {
    "tasks": ("numCompleteTasks", 1),
    "executor_run_s": ("executorRunTime", 1e-3),
    "executor_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_read_bytes": ("shuffleReadBytes", 1),
    "shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spill_bytes": ("diskBytesSpilled", 1),
    "output_records": ("outputRecords", 1),
}


class EvictedError(RuntimeError):
    """The status store dropped a job or stage before it was read."""


class IncompleteError(RuntimeError):
    """A job or stage was read before its final metrics were in the store."""


# a job or stage read in any other state would give partial counts
_JOB_DONE = ("SUCCEEDED", "FAILED")
_STAGE_DONE = ("COMPLETE", "SKIPPED", "FAILED")


@dataclass
class Span:
    name: str
    fn: str
    start: float
    parent: int | None
    run_id: int
    end: float = 0.0
    jobs: set = field(default_factory=set)
    stages: set = field(default_factory=set)
    result: object = None
    rows: int | None = None


class StatusReader:
    """Reads new jobs and their stages from the live SparkContext."""

    def __init__(self, sc):
        self._tracker = sc.statusTracker()._jtracker
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._bus.waitUntilEmpty()
        self.seen_jobs: set[int] = set(self._job_ids())
        self.stage_metrics: dict[int, dict[str, float]] = {}

    def _job_ids(self) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(None))

    def poll(self) -> tuple[list[int], list[int]]:
        """→ (new job ids, stage ids read for the first time).

        The status store is fed asynchronously by the listener bus, so
        the bus is drained first: every job that has ended by now then
        has its final stage metrics in the store."""
        self._bus.waitUntilEmpty()
        new_jobs = sorted(set(self._job_ids()) - self.seen_jobs)
        new_stages = []
        for jid in new_jobs:
            info = self._tracker.getJobInfo(jid)
            if info is None:
                raise EvictedError(f"job {jid} is no longer in the status store")
            status = str(info.status())
            if status not in _JOB_DONE:
                raise IncompleteError(f"job {jid} is {status} at a span boundary")
            for sid in info.stageIds():
                if sid in self.stage_metrics:
                    continue
                self.stage_metrics[sid] = self._stage(sid)
                new_stages.append(sid)
            self.seen_jobs.add(jid)
        return new_jobs, new_stages

    def _stage(self, sid: int) -> dict[str, float]:
        try:
            st = self._store.lastStageAttempt(sid)
        except Exception as e:  # py4j wraps NoSuchElementException
            if "NoSuchElement" in str(e):
                raise EvictedError(f"stage {sid} is no longer in the status store") from e
            raise
        status = str(st.status())
        if status not in _STAGE_DONE:
            raise IncompleteError(f"stage {sid} is {status} when read")
        return {k: getattr(st, f)() * scale for k, (f, scale) in _STAGE_FIELDS.items()}


class Tracer:
    """Installs span wrappers around the layers in :data:`LAYERS`.

    ``install`` rebinds every reference the loaded engine modules hold to
    a wrapped function; ``uninstall`` restores them. Spans are kept in
    memory (``spans``) and written out by the caller.
    """

    def __init__(self):
        self.plan_s = 0.0  # planning the DataFrames handed to the write
        self.uncounted: list[str] = []
        self.spans: list[Span] = []
        self.present: set[str] = set()
        self.reader: StatusReader | None = None
        self.run_id = 0
        self._open: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    # -- wrapping ---------------------------------------------------------
    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for mod_name, attr in targets:
                try:
                    mod = importlib.import_module(mod_name)
                except ImportError:
                    continue
                owner, _, name = attr.rpartition(".")
                holder = getattr(mod, owner) if owner else mod
                orig = getattr(holder, name, None)
                if orig is None:
                    continue
                self.present.add(layer)
                wrapped = self._wrap(layer, orig)
                if owner:  # a method: one binding, on its class
                    self._rebind(holder, name, orig, wrapped)
                    continue
                for m in list(sys.modules.values()):
                    if getattr(m, "__name__", "").startswith("reflexiv_spark") and (
                        m.__dict__.get(name) is orig
                    ):
                        self._rebind(m, name, orig, wrapped)

    def _rebind(self, holder, name, orig, wrapped) -> None:
        setattr(holder, name, wrapped)
        self._patched.append((holder, name, orig))

    def uninstall(self) -> None:
        for holder, name, orig in reversed(self._patched):
            setattr(holder, name, orig)
        self._patched.clear()

    def _wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.reader is None or any(self.spans[i].name == layer for i in self._open):
                return fn(*args, **kwargs)  # not recording, or a same-layer inner call
            if layer == "sources.write" and args and hasattr(args[0], "_jdf"):
                # plan the DataFrame about to be written, outside the span
                t0 = time.perf_counter()
                args[0]._jdf.queryExecution().executedPlan()
                self.plan_s += time.perf_counter() - t0
            idx = self.begin(layer, fn.__name__)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(idx)
            self.spans[idx].result = out
            return out

        return traced

    # -- spans ------------------------------------------------------------
    def start_run(self, sc) -> None:
        """Begin recording one invocation (spans share its run id)."""
        self.run_id += 1
        if self.reader is None:
            self.reader = StatusReader(sc)
        self._sync()

    def stop_run(self) -> int:
        """End recording one invocation → jobs seen so far."""
        self._sync()
        return len(self.reader.seen_jobs)

    def detach(self) -> None:
        """Stop recording (the SparkContext is about to stop)."""
        self.reader = None

    def begin(self, name: str, fn: str = "") -> int:
        self._sync()
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, fn, time.perf_counter(), parent, self.run_id))
        self._open.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int) -> None:
        self._sync()
        self.spans[idx].end = time.perf_counter()
        self._open.remove(idx)

    def _sync(self) -> None:
        jobs, stages = self.reader.poll()
        for i in self._open:
            self.spans[i].jobs.update(jobs)
            self.spans[i].stages.update(stages)

    # -- reporting --------------------------------------------------------
    def count_results(self, run_id: int) -> dict[str, int]:
        """Count the rows of every DataFrame a span of ``run_id`` returned
        and drop the reference. Runs after the invocation; the counting
        jobs are read (and so excluded from every span) before the next
        span opens. → rows per wrapped function name. A DataFrame that
        can no longer be computed (its input is gone) is listed in
        ``uncounted`` and left out of the rows."""
        from py4j.protocol import Py4JJavaError
        from pyspark.sql import DataFrame

        by_fn: dict[str, int] = {}
        for s in self.spans:
            if s.run_id == run_id and isinstance(s.result, DataFrame):
                try:
                    s.rows = s.result.count()
                except Py4JJavaError:
                    self.uncounted.append(f"{s.name}:{s.fn}")
                else:
                    by_fn[s.fn] = by_fn.get(s.fn, 0) + s.rows
            s.result = None
        self._sync()
        return by_fn

    def layer_totals(self, run_id: int) -> dict[str, dict[str, float]]:
        """Per-layer inclusive totals over one invocation's spans. The
        output write returns no DataFrame: its rows are the records its
        stages wrote."""
        out: dict[str, dict[str, float]] = {}
        stage_metrics = self.reader.stage_metrics
        for s in self.spans:
            if s.run_id != run_id:
                continue
            t = out.setdefault(s.name, {m: 0.0 for m, _, _ in LAYER_METRICS})
            t["wall_s"] += s.end - s.start
            t["jobs"] += len(s.jobs)
            written = 0.0
            for sid in s.stages:
                for k, v in stage_metrics[sid].items():
                    if k == "output_records":
                        written += v
                    else:
                        t[k] += v
            if s.rows is not None:
                t["rows_out"] += s.rows
            elif s.name == "sources.write":
                t["rows_out"] += written
        return out

    def records(self) -> list[dict]:
        return [
            {"name": s.name, "fn": s.fn, "start": s.start, "end": s.end,
             "parent": s.parent, "run_id": s.run_id, "jobs": len(s.jobs),
             "stages": len(s.stages), "rows": s.rows}
            for s in self.spans
        ]

