#!/usr/bin/env python3
"""Benchmark of the reflexiv_spark CLI, end to end and per layer.

Run from the root of a checkout:

    python3 perfbench/run.py --workload genome_k31 --seed 1 --seconds 10 --trace 0

One run generates the workload's inputs from ``--seed``, then calls the
CLI entry point (``reflexiv_spark.__main__.main``) in this process, one
invocation at a time (closed loop, one client, ``local[<cores>]``):

1. ``SETUPS`` set-ups: JVM launch plus SparkSession start, as each CLI
   invocation pays it (the first ones are shut down again);
2. the cold invocation, first in the fresh JVM, after the garbage
   collection every warm invocation gets;
3. warm invocations until ``--seconds`` have passed and at least
   ``min_warm`` have run, each with a fresh output dir and ``--workdir``,
   with Python and JVM garbage collection between them.

Every output is checked against the generator's ground truth; an
invocation that raises or fails its check counts in ``failed`` and is not
timed. ``--trace 1`` adds traced invocations after the warm ones and
reports the per-layer metrics of ``tracing.py`` instead of the end-to-end
ones. The last stdout line is the JSON result; the lines above it print
every metric by name with its unit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402

SETUPS = 2  # set-ups measured per run
MAX_INVOCATIONS = 50
MB = 1e6

# (name, unit, better). End-to-end metrics, printed with --trace 0:
E2E_METRICS = (
    ("setup_s", "s", "lower"),
    ("cold_wall_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("throughput_mb_s", "MB/s", "higher"),
)
# figures of the whole run, printed in both modes and declared with the
# per-layer metrics: peak memory (too spread between seeds to bound) and
# output quality (the figures of the other kind of workload read 0)
RUN_METRICS = (
    ("peak_rss_mb", "MB", "lower"),
    ("n50_bp", "bp", "higher"),
    ("genome_fraction", "fraction", "higher"),
    ("contig_bases_ratio", "ratio", "lower"),
    ("exact_contig_frac", "fraction", "higher"),
    ("contained_contigs", "count", "lower"),
    ("dup_removed_frac", "fraction", "higher"),
    ("unique_kept_frac", "fraction", "higher"),
    ("failed_frac", "fraction", "lower"),
)
# whole-invocation figures of the traced run
TRACE_METRICS = (
    ("traced_wall_s", "s", "lower"),
    ("trace.untraced_remainder_s", "s", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("build_s", "s", "lower"),
    ("build_jobs", "count", "lower"),
    ("action_s", "s", "lower"),
    ("action_jobs", "count", "lower"),
    ("action.plan_s", "s", "lower"),
    ("session.persistent_rdds", "count", "lower"),
    ("meta.barrier_bytes", "bytes", "lower"),
    ("assemble.prune_kept_frac", "fraction", "higher"),
)


def printed_metrics() -> dict[str, tuple[str, str]]:
    """Every metric a run can print → (unit, better)."""
    import tracing

    layer = tuple(
        (f"{name}.{m}", unit, better)
        for name in tracing.LAYERS
        for m, unit, better in tracing.LAYER_METRICS
    )
    return {
        n: (u, b)
        for n, u, b in E2E_METRICS + layer + TRACE_METRICS + RUN_METRICS
    }


@dataclass(frozen=True)
class Workload:
    cmd: str  # CLI subcommand
    flags: tuple[str, ...]  # beyond -i/-o (and --workdir for meta)
    min_warm: int
    params: dict  # generator parameters


WORKLOADS = {
    # the reference's own use case: `reflexiv run` with CLI defaults
    "genome_k31": Workload(
        "run", ("--outformat", "fasta"), 2,
        {"genome_len": 40_000, "coverage": 30.0},
    ),
    # the datapipe layers only: scoring, exact dedup, MinHash
    "corpus_clean": Workload(
        "text-clean", ("--langs", "any"), 2, {"n_docs": 2_000}
    ),
    # three small k rungs: per-job and per-rung driver overhead dominate;
    # the only workload that reaches the `meta` layer
    "meta_ladder": Workload(
        "meta", ("--outformat", "fasta"), 1,
        {"n_genomes": 5, "genome_len": 8_000, "base_coverage": 8.0,
         "max_abundance": 8.0},
    ),
}


def make_inputs(name: str, seed: int, work: str) -> tuple[str, int, dict]:
    """→ (input path, input bytes, ground truth)."""
    w = WORKLOADS[name]
    if name == "corpus_clean":
        ids, texts, group = gen.corpus(seed, w.params["n_docs"])
        path = os.path.join(work, "corpus.parquet")
        size = gen.write_corpus(path, ids, texts)
        return path, size, {"doc_ids": ids, "texts": texts, "group": group}
    if name == "meta_ladder":
        genomes, reads = gen.community_reads(seed, **w.params)
    else:
        genomes, reads = gen.genome_reads(seed, **w.params)
    path = os.path.join(work, "reads.fq")
    return path, gen.write_fastq(path, reads), {"genomes": genomes}


def check_output(name: str, out: str, truth: dict) -> tuple[list[str], dict]:
    if name == "corpus_clean":
        return check.check_corpus(out, truth["doc_ids"], truth["texts"], truth["group"])
    return check.check_contigs(check.read_fasta_dir(out), truth["genomes"])


def isolate(root: str, work: str, trace: bool) -> None:
    """Keep Spark's, the JVM's and Python's scratch files in ``work``;
    when tracing, keep every job and stage in the status store."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    ).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    if trace:
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedJobs=1000000 "
            "--conf spark.ui.retainedStages=1000000 pyspark-shell"
        )


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of the JVM and every process under it
    (the Python worker daemon and its workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    parent[int(d)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    tree, frontier = {jvm_pid}, [jvm_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


def steal_s() -> float:
    """CPU time the hypervisor took from this machine, from /proc/stat."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Bench:
    def __init__(self, name: str, root: str, work: str, inp: str, truth: dict):
        self.name, self.root, self.work = name, root, work
        self.inp, self.truth = inp, truth
        self.attempted = self.failed = 0
        self.n = 0
        self.persistent_rdds: list[int] = []
        self.quality: dict = {}

    def invoke(self, after=None) -> tuple[float | None, dict]:
        """One CLI invocation with a fresh output dir and workdir →
        (wall seconds or None if it failed, details). ``after`` runs
        untimed once the output is checked, before the dirs are removed:
        the returned DataFrames may still read them."""
        from reflexiv_spark.__main__ import main as cli_main

        self.n += 1
        out = os.path.join(self.work, f"out{self.n}")
        workdir = os.path.join(self.work, f"wd{self.n}")
        w = WORKLOADS[self.name]
        argv = [w.cmd, "-i", self.inp, "-o", out, *w.flags]
        if w.cmd == "meta":
            argv += ["--workdir", workdir]
        self.attempted += 1
        err = None
        t0 = time.perf_counter()
        try:
            rc = cli_main(argv)
            if rc != 0:
                err = f"exit code {rc}"
        except Exception as e:  # the boundary: count it, report it, go on
            err = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        detail = {"t0": t0, "workdir_bytes": dir_bytes(workdir)}
        if err is None:
            errors, self.quality = check_output(self.name, out, self.truth)
            if errors:
                err = "; ".join(errors[:3])
        if err is not None:
            self.failed += 1
            print(f"# invocation {self.n} FAILED: {err[:500]}", file=sys.stderr)
        if after is not None:
            detail["after"] = after()
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(workdir, ignore_errors=True)
        return (None if err else wall), detail

    def hygiene(self, spark) -> None:
        """Between invocations, outside any timed region."""
        self.persistent_rdds.append(spark.sparkContext._jsc.getPersistentRDDs().size())
        gc.collect()
        spark._jvm.System.gc()


def session(cmd: str):
    from reflexiv_spark.session import get_spark

    return get_spark(app_name=f"reflexiv-{cmd}")


def run(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "reflexiv_spark", "__init__.py")):
        print("perfbench: no reflexiv_spark package here; run from the root "
              "of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        declared = json.load(fh)
    w = WORKLOADS[args.workload]
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    isolate(root, work, bool(args.trace))
    steal0 = steal_s()
    try:
        inp, in_bytes, truth = make_inputs(args.workload, args.seed, work)
        bench = Bench(args.workload, root, work, inp, truth)

        # 1. set-up: JVM launch plus SparkSession start, as each CLI
        # invocation pays it; the last session stays up for the rest
        setups = []
        for i in range(1 if args.trace else SETUPS):
            if i:
                stop_spark()
            t0 = time.perf_counter()
            spark = session(w.cmd)
            setups.append(time.perf_counter() - t0)
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid

        # 2. cold: the first invocation in a fresh JVM, after the same
        # garbage collection every warm invocation gets
        bench.hygiene(spark)
        cold, _ = bench.invoke()

        # 3. warm invocations, closed loop
        warm = []
        t_start = time.perf_counter()
        while len(warm) < w.min_warm or time.perf_counter() - t_start < args.seconds:
            bench.hygiene(spark)
            wall, _ = bench.invoke()
            if wall is not None:
                warm.append(wall)
            if bench.n >= MAX_INVOCATIONS:
                break
        bench.hygiene(spark)
        rss = peak_rss_mb(jvm_pid)

        if args.trace:
            values = trace_run(bench, spark, warm, args)
        else:
            wall_s = statistics.median(warm) if warm else float("nan")
            values = {
                "setup_s": statistics.median(setups),
                "cold_wall_s": cold if cold is not None else float("nan"),
                "wall_s": wall_s,
                "throughput_mb_s": in_bytes / MB / wall_s,
            }
        values.update(run_metrics(bench, rss))

        units = printed_metrics()
        print(f"# workload {args.workload} seed {args.seed}: input {in_bytes} bytes, "
              f"{len(warm)} warm samples {[round(x, 3) for x in warm]}, "
              f"setups {[round(x, 3) for x in setups]}, "
              f"persistent RDDs before the cold rep and after each rep "
              f"{bench.persistent_rdds}")
        print(f"# host: {steal_s() - steal0:.1f} s CPU steal during the run, "
              f"load average {os.getloadavg()[0]:.2f}")
        for k, v in values.items():
            print(f"{k} {v:.6g} {units[k][0]}")

        names = [m["name"] for m in declared["per_layer" if args.trace else "end_to_end"]]
        missing = [n for n in names if n not in values]
        if missing:
            print(f"perfbench: metrics not produced: {missing}", file=sys.stderr)
            return 3
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {n: {"value": values[n], "unit": units[n][0]} for n in names},
        }
        print(json.dumps(result))
        return 0
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run_metrics(bench: Bench, rss: float) -> dict[str, float]:
    """Peak memory, failures, and the output quality of the last checked
    invocation."""
    out = {n: float(bench.quality.get(n, 0.0)) for n, _, _ in RUN_METRICS}
    out["peak_rss_mb"] = rss
    out["failed_frac"] = bench.failed / bench.attempted
    return out


def trace_run(bench: Bench, spark, warm: list[float], args) -> dict[str, float]:
    """One traced invocation after the untraced ones → per-layer metrics."""
    import tracing

    tracer = tracing.Tracer()
    tracer.install()
    try:
        bench.hygiene(spark)
        tracer.start_run(spark.sparkContext)
        jobs0 = len(tracer.reader.seen_jobs)
        wall, detail = bench.invoke(
            after=lambda: (tracer.stop_run(), tracer.count_results(tracer.run_id))
        )
        stop_jobs, by_fn = detail["after"]
        layers = tracer.layer_totals(tracer.run_id)
    finally:
        tracer.detach()
        tracer.uninstall()
    bench.hygiene(spark)
    spans = [s for s in tracer.spans if s.run_id == tracer.run_id]
    write = [s for s in spans if s.name == "sources.write"]
    action_jobs = sum(len(s.jobs) for s in write)
    wall = wall if wall is not None else float("nan")
    out = {
        "traced_wall_s": wall,
        "trace.untraced_remainder_s": wall - sum(
            s.end - s.start for s in spans if s.parent is None
        ),
        "trace.overhead_s": wall - (statistics.median(warm) if warm else float("nan")),
        "build_s": write[0].start - detail["t0"] if write else 0.0,
        "build_jobs": stop_jobs - jobs0 - action_jobs,
        "action_s": sum(s.end - s.start for s in write),
        "action_jobs": action_jobs,
        "action.plan_s": tracer.plan_s,
        "session.persistent_rdds": bench.persistent_rdds[-1],
        "meta.barrier_bytes": detail["workdir_bytes"],
        "assemble.prune_kept_frac": (
            by_fn.get("prune_forks", 0) / by_fn["expand_orientations"]
            if by_fn.get("expand_orientations") else 0.0
        ),
    }
    for layer in tracing.LAYERS:
        totals = layers.get(layer, {})
        for m, _, _ in tracing.LAYER_METRICS:
            out[f"{layer}.{m}"] = totals.get(m, 0.0)
    absent = sorted(set(tracing.LAYERS) - tracer.present)
    spans_path = os.path.join(
        bench.root, ".perfbench_out", f"spans-{bench.name}-{args.seed}.json"
    )
    os.makedirs(os.path.dirname(spans_path), exist_ok=True)
    with open(spans_path, "w") as fh:
        json.dump({"absent_layers": absent, "uncounted": tracer.uncounted,
                   "spans": tracer.records()}, fh)
    if absent:
        print(f"# layers absent from this engine: {absent}")
    if tracer.uncounted:
        print(f"# rows_out leaves out DataFrames that could not be recounted: "
              f"{tracer.uncounted}")
    return out


def stop_spark() -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


if __name__ == "__main__":
    sys.exit(run(parse()))
