#!/usr/bin/env python3
"""Benchmark of the archvisier_spark engine.

Run from the root of a checkout::

    python3 perfbench/run.py --workload web_extract --seed 1 --seconds 12 --trace 0

One client process drives one workload, closed loop, in its own local
SparkSession: it builds the seeded inputs and their oracle (cached under
``.perfbench/``), starts the session, runs full untimed passes as warm-up,
then a fixed number of timed passes, about ``--seconds`` worth (see
``NOMINAL_PASS_S``).  Every output of every pass is checked.  The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics.  Times are CPU seconds (user
plus system) of the whole process tree: the client, the Spark JVM and its
Python workers.  Unlike wall time they leave out what the hypervisor of a
shared VM steals, which on a shared 4-vCPU VM moved wall times by up to
80% within minutes.  They still move with how busy the neighbours sharing
the host's cores are: on that VM the same pass cost from 3.6 to 7.4 CPU
seconds over one hour, in runs minutes apart, while within one run
passes agreed within about 10%.  In six ``ops_mix`` runs made to choose
this, the scaled pass time spread (IQR over median) 0.10 where the
unscaled one spread 0.17, and set-up 0.04 against 0.20.  So each untraced run also times a fixed
piece of the benchmark's own work, no program code, on ``CPUS`` forked
processes at once (``observe.reference_cpu_s``), before the session
starts, after set-up and after every timed pass, and reports its times
scaled by ``REFERENCE_S`` over the median of those reference times: CPU
seconds as they would read on the host state where the reference takes
``REFERENCE_S``.  The summary line above the result gives the unscaled
figures too.

* ``setup_s``: session start plus the warm-up passes (input generation
  excluded), scaled;
* ``pass_cpu_s``: median over the timed passes, scaled;
* ``worker_rss_mb``: peak summed RSS of the PySpark Python workers during
  the timed passes.

The summary line above the result also gives the wall-clock figures:
set-up time, ``docs_per_s`` (web_extract) or ``mix_s`` (ops_mix), and
``fail_frac``.  ``--trace 1`` alternates untraced and traced passes,
reports the per-layer metrics of ``layers.py``, per-stage task metrics
from Spark's event log and the tracing overhead, and writes the spans to
``.perfbench/traces/``.

Workloads:

* ``web_extract``: the north-rule corpus through the flagship path;
* ``ops_mix``: declared ops queries over seeded TPC-H-ish tables.

``perfbench/selftest.py`` is the benchmark's own smoke test.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import subprocess
import sys
import tempfile
import time

CPUS = min(4, len(os.sched_getaffinity(0)))
# untimed passes before timing starts: after these, CPU seconds per pass
# (JIT compiler threads left out) stay within a few percent of each other
WARMUP_PASSES = {"web_extract": 2, "ops_mix": 2}
# a warm pass of each workload takes about this long on a 4-core VM;
# --seconds buys seconds / NOMINAL_PASS_S timed passes (at least two), a
# fixed count, so that every run times the same passes
NOMINAL_PASS_S = {"web_extract": 4.0, "ops_mix": 3.0}
# CPU seconds each process spends on observe.reference_cpu_s's fixed work
# when CPUS of them run at once, a typical figure on that VM (it read
# 0.5-1.0); times are reported scaled to it (see the module docstring)
REFERENCE_S = 0.6
DRIVER_MEMORY = "2g"

# six of the nine frozen bench.py queries, plus context_similar_docs so
# that every ops module is in the mix; the mix must stay short because
# every run pays for its warm-up passes
MIX = (
    "tpch_pricing_summary", "text_quality_scores", "dedup_simhash_buckets",
    "sim_cosine_topk", "events_hourly_counts", "cascade_metadata",
    "context_similar_docs",
)
# timed once each in the traced run only
LEDGER_ONLY = (
    "tpch_nation_revenue", "tpch_top3_orders_per_customer", "dedup_minhash_lsh",
    "tpch_price_percentiles", "x9_dictionary_correction",
    "a2_counter_display", "events_props_json", "dedup_near_jaccard",
    "k4_fuzzy_pairs", "context_corrections", "k1_token_similarity_c",
)

SCALES = {
    "full": {"web": {"docs": 12000}, "sf": 0.01, "sample": 300,
             "ledger_mega": {"small": 200, "pages": 3000}},
    # the self-test's smoke size; sf 0.00467 gives 140 documents, 7 per
    # source (see inputs.py)
    "tiny": {"web": {"docs": 120}, "sf": 0.00467, "sample": 40,
             "ledger_mega": {"small": 20, "pages": 60}},
}

END_TO_END = {"setup_s": "s", "pass_cpu_s": "s", "worker_rss_mb": "MB"}


def make_workload(name: str, scale: str):
    from workloads import Extraction, OpsMix

    size = SCALES[scale]
    if name == "ops_mix":
        return OpsMix(name, MIX, size["sf"])
    return Extraction(name, "web", size["web"], CPUS)


def unit_of(metric: str) -> str:
    if metric in END_TO_END:
        return END_TO_END[metric]
    for suffix, unit in (("docs_per_s", "docs/s"), ("_frac", "fraction"), ("_mb", "MB"),
                         ("_s", "s"), (".s", "s"), ("max_over_median_task", "ratio")):
        if metric.endswith(suffix):
            return unit
    return "count"


def per_layer_names() -> list[str]:
    return [
        "session.start_s", "trace.overhead_frac",
        "kernel.sniffer.docs_per_s", "kernel.html_extract.docs_per_s",
        "kernel.html_extract.fast_path_frac", "kernel.pdf.docs_per_s",
        "kernel.document.docs_per_s", "kernel.cascade.docs_per_s",
        "pipeline.extract.info_spans.docs_per_s", "kernel.naming.docs_per_s",
        "pipeline.extract.arrow_floor_s", "pipeline.extract.stage_s", "pipeline.numbering.s",
        "pipeline.paged.s", "pipeline.lineage.run_resumable_s", "pipeline.lineage.finalize_names_s",
        "spark.tasks", "spark.max_over_median_task", "spark.single_task_stages",
        "spark.shuffle_write_mb", "spark.spill_mb",
        *(f"ops.{q}.s" for q in MIX + LEDGER_ONLY),
    ]


# ------------------------------------------------------------- session


def configure(root: str, work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_GRAFT_CPUS": str(CPUS),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # a fixed set of JIT compiler threads, whose CPU pass times leave
        # out; the whole heap from the start, so that G1 does not resize
        # its young generation (and GC CPU per pass) differently per run
        "SPARK_GRAFT_JAVA_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} "
                                 "-XX:-UseDynamicNumberOfCompilerThreads",
        "TMPDIR": tmp,
    })
    tempfile.tempdir = None
    sys.path.insert(0, root)


def start_session(name: str, work: str, event_dir: str | None = None):
    from archvisier_spark.session import get_spark

    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_dir,
                     "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false"})
    return get_spark(master=f"local[{CPUS}]", app_name=f"perfbench-{name}", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (its Python workers follow it
    out; :func:`reap_children` waits for them)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ---------------------------------------------------------- processes

PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the subreaper of every process it starts, so that
    one orphaned below it (the PySpark daemon and its workers once the JVM
    has gone) becomes its child and can be waited for."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # not Linux: only direct children are waited for


def reap_children(grace_s: float = 10.0) -> None:
    """Wait for every child process to end: ``grace_s`` seconds to exit on
    its own, then SIGTERM, and after as long again SIGKILL."""
    from multiprocessing import resource_tracker

    from observe import child_pids

    # multiprocessing's resource tracker (started by the spawn pool of the
    # kernel oracle) ignores SIGTERM and would outlive this process;
    # ``_stop`` closes its pipe and waits for it
    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        stop()
    start = time.monotonic()
    while True:
        alive = []
        for pid in child_pids(os.getpid()):
            try:
                if os.waitpid(pid, os.WNOHANG)[0] == 0:
                    alive.append(pid)
            except ChildProcessError:
                pass
        if not alive:
            return
        waited = time.monotonic() - start
        if waited > grace_s:
            for pid in alive:
                print(f"perfbench: stopping leftover process {pid}", file=sys.stderr)
                try:
                    os.kill(pid, signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


# ---------------------------------------------------------- measuring


class Tally:
    def __init__(self):
        self.attempted = self.failed = 0

    def add(self, workload, output) -> None:
        attempted, failed = workload.check(output)
        self.attempted += attempted
        self.failed += failed


def one_pass(workload, spark, tracer, pass_id: str, tally: Tally) -> tuple[float, float]:
    """Run, time and check one pass; returns its wall and CPU seconds."""
    from observe import PASS_PROPERTY, tree_cpu_s

    spark.sparkContext.setLocalProperty(PASS_PROPERTY, pass_id)
    tracer.pass_id = pass_id
    cpu = tree_cpu_s(os.getpid())
    t = time.perf_counter()
    with tracer.span("pass"):
        output = workload.run_pass(spark, tracer)
    elapsed = time.perf_counter() - t
    cpu = tree_cpu_s(os.getpid()) - cpu
    tally.add(workload, output)
    print(f"perfbench: pass {pass_id} took {elapsed:.3f} s, {cpu:.2f} CPU s", file=sys.stderr)
    return elapsed, cpu


def set_up(workload, work: str, tally: Tally, event_dir: str | None = None):
    """Start the session and run the warm-up passes; returns the session
    and the wall and CPU seconds of both together."""
    from observe import tree_cpu_s
    from tracing import NULL

    cpu, t = tree_cpu_s(os.getpid()), time.perf_counter()
    spark = start_session(workload.name, work, event_dir)
    start = (time.perf_counter() - t, tree_cpu_s(os.getpid()) - cpu)
    try:
        warm = [one_pass(workload, spark, NULL, f"w{i}", tally) for i in range(WARMUP_PASSES[workload.name])]
    except BaseException:
        stop_session(spark)
        raise
    return spark, start, (start[0] + sum(w for w, _ in warm), start[1] + sum(c for _, c in warm))


def timed_passes(workload, seconds: float) -> int:
    return max(2, round(seconds / NOMINAL_PASS_S[workload.name]))


def run_untraced(workload, seconds: float, work: str):
    from observe import RssSampler, reference_cpu_s
    from tracing import NULL

    tally = Tally()
    # the reference runs between the timed stretches, never inside one
    refs = [reference_cpu_s(CPUS)]
    spark, _, (setup_wall, setup_cpu) = set_up(workload, work, tally)
    try:
        refs.append(reference_cpu_s(CPUS))
        sampler = RssSampler().start()
        times = []
        for i in range(timed_passes(workload, seconds)):
            times.append(one_pass(workload, spark, NULL, f"p{i}", tally))
            refs.append(reference_cpu_s(CPUS))
        rss_mb = sampler.stop()
    finally:
        stop_session(spark)
    pass_cpu = statistics.median(c for _, c in times)
    scale = REFERENCE_S / statistics.median(refs)
    metrics = {"setup_s": setup_cpu * scale, "pass_cpu_s": pass_cpu * scale, "worker_rss_mb": rss_mb}
    raw = {"setup_s": setup_wall, "pass_s": statistics.median(t for t, _ in times),
           "setup_cpu_s": setup_cpu, "pass_cpu_s": pass_cpu, "reference_s": statistics.median(refs)}
    return metrics, raw, tally


def run_traced(workload, seconds: float, work: str, seed: int, scale: str):
    """Per-layer metrics.  A layer the workload does not run reports 0:
    ``pipeline.*`` on ``ops_mix`` and ``ops.*`` on ``web_extract``."""
    import inputs
    import layers
    from observe import stage_metrics
    from tracing import NULL, Tracer
    from workloads import Extraction

    size = SCALES[scale]
    extracting = isinstance(workload, Extraction)
    if extracting:
        mega = Extraction("ledger_mega", "mega", size["ledger_mega"], CPUS)
        mega.prepare(work, seed)
        corpus = layers.read_corpus(workload.data_dir)
    else:
        corpus = inputs.web_rows(size["sample"], seed)

    metrics = dict.fromkeys(per_layer_names(), 0.0)
    tracer, tally = Tracer(), Tally()
    event_dir = os.path.join(work, "eventlog")
    spark, (metrics["session.start_s"], _), _ = set_up(workload, work, tally, event_dir)
    try:
        app_id = spark.sparkContext.applicationId
        # untraced and traced passes in ABBA order, so that a steady drift
        # of pass times cancels out of the tracing overhead
        plain, traced = [], []
        for i in range(timed_passes(workload, seconds)):
            order = ((NULL, plain, "u"), (tracer, traced, "t"))
            for t, times, label in order if i % 2 == 0 else order[::-1]:
                times.append(one_pass(workload, spark, t, f"{label}{i}", tally)[0])
        metrics["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
        tracer.pass_id = "ledger"
        with tracer.span("ledger.kernel"):
            metrics.update(layers.kernel_rates(layers.sample(corpus, seed, size["sample"]), tracer))
        if extracting:
            with tracer.span("ledger.pipeline"):
                metrics.update(layers.pipeline_times(spark, workload, mega, work, tracer))
        else:
            metrics.update(layers.span_medians(tracer, [f"ops.{q}" for q in MIX], ".s"))
            with tracer.span("ledger.ops"):
                metrics.update(layers.ops_times(spark, workload.dir, LEDGER_ONLY, tracer))
    finally:
        stop_session(spark)
    metrics.update(stage_metrics(os.path.join(event_dir, app_id), [f"u{i}" for i in range(len(plain))]))
    os.makedirs(os.path.join(work, "traces"), exist_ok=True)
    tracer.write(os.path.join(work, "traces", f"{workload.name}-seed{seed}.json"))
    for span in tracer.spans:
        if span["parent"] is None and span["name"] != "pass":
            print(f"perfbench: {span['name']} took {span['end'] - span['start']:.1f} s", file=sys.stderr)
    return metrics, tally


# ------------------------------------------------------------------ main


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("web_extract", "ops_mix"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=tuple(SCALES), default="full", help="input size (tiny: self-test)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse(argv)
    adopt_orphans()
    # stopped from outside: unwind, so that Spark is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return bench(args)
    finally:
        reap_children()


def bench(args) -> int:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "archvisier_spark", "__init__.py")):
        print("perfbench: run from the root of an archvisier_spark checkout "
              "(no archvisier_spark package here)", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    configure(root, work)

    workload = make_workload(args.workload, args.scale)
    workload.prepare(work, args.seed)
    if args.trace:
        metrics, tally = run_traced(workload, args.seconds, work, args.seed, args.scale)
        names = per_layer_names()
        summary = f"tracing overhead {metrics['trace.overhead_frac']:+.1%}"
    else:
        metrics, raw, tally = run_untraced(workload, args.seconds, work)
        names = list(END_TO_END)
        rate = (f"mix_s={raw['pass_s']:.3f}" if args.workload == "ops_mix"
                else f"docs_per_s={workload.items / raw['pass_s']:.1f}")
        summary = (f"setup_s={raw['setup_s']:.3f} (wall; {raw['setup_cpu_s']:.2f} CPU s, "
                   f"{metrics['setup_s']:.2f} scaled) {rate} pass_cpu_s={raw['pass_cpu_s']:.3f} "
                   f"({metrics['pass_cpu_s']:.3f} scaled; reference {raw['reference_s']:.3f} CPU s) "
                   f"worker_rss_mb={metrics['worker_rss_mb']:.1f}")
    fail_frac = tally.failed / max(tally.attempted, 1)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: {summary} fail_frac={fail_frac:.6f}")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {n: {"value": metrics[n], "unit": unit_of(n)} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
