"""Workload benchmark for the quality-filter job.

Run from the repository root:

    python3 perfbench/run.py --workload filter_batch --seed 1 \\
        --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics: a closed loop (one
client, one operation at a time) of the workload's operation on
``local[nproc]`` for ``--seconds`` of operation time, after a timed
cold set-up and one untimed warm-up operation. ``--trace 1`` runs a
fixed sequence instead and reports the per-layer metrics. Every
operation's output is checked against the reference labeler. The last
stdout line is one JSON object; the lines before it are the same
numbers for people. See perfbench/README.md for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
NPROC = len(os.sched_getaffinity(0))
HEAP = "3g"
T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


def start_session(extra: dict | None = None):
    """``get_spark(cores=nproc)`` and a check that the requested confs
    took effect (``getOrCreate`` silently keeps an old session's)."""
    from standard_data_quality_framework_spark.session import get_spark
    extra = {"spark.ui.showConsoleProgress": "false", **(extra or {})}
    spark = get_spark("perfbench", cores=NPROC, extra_conf=extra)
    conf = spark.sparkContext.getConf()
    want = {"spark.master": f"local[{NPROC}]",
            "spark.driver.memory": HEAP,
            "spark.sql.shuffle.partitions": str(NPROC), **extra}
    got = {k: spark.conf.get(k, None) or conf.get(k) for k in want}
    if got != want:
        raise RuntimeError(f"Spark confs did not take effect: {got} != {want}")
    return spark


def timed_setup():
    """One set-up as the job pays it: session plus model training."""
    from standard_data_quality_framework_spark.functions.udfs import (
        make_udfs)
    t0 = time.perf_counter()
    spark = start_session()
    t1 = time.perf_counter()
    make_udfs(spark)
    return spark, t1 - t0, time.perf_counter() - t0


class Loop:
    """Runs operations one at a time and checks each one's output."""

    def __init__(self, wl):
        self.wl = wl
        self.attempted = self.failed = 0
        self.spent = 0.0  # seconds in operations, failed ones included

    def once(self, before=None):
        """One checked operation; returns its seconds (None if it
        failed). ``before`` runs after the warehouse is ready, just
        outside the timer. ``last_s`` keeps the seconds of an operation
        whose output check failed (None only if the operation raised)."""
        wl = self.wl
        wh = wl.fresh_warehouse()
        self.attempted += 1
        if before:
            before()
        self.last_s = None
        t0 = time.perf_counter()
        try:
            wl.op(wh)
            self.last_s = dt = time.perf_counter() - t0
            probs = wl.check(wh)
        except Exception:  # a failed operation is counted, not fatal
            traceback.print_exc()
            dt, probs = None, ["raised"]
        self.spent += time.perf_counter() - t0
        if probs:
            print(f"operation {self.attempted} failed: {probs}",
                  file=sys.stderr)
            self.failed += 1
            dt = None
        self.last_wh = wh
        log(f"operation {self.attempted}: "
            f"{'failed' if dt is None else f'{dt:.3f} s'}")
        return dt


def untraced(wl, seconds: float, setup_s: float) -> tuple[dict, Loop]:
    from probes import MemSampler, fs_bytes_written
    loop = Loop(wl)
    times, written, peaks = [], [], []
    with MemSampler() as mem:
        while loop.spent < seconds:
            b0 = fs_bytes_written(wl.spark)
            dt = loop.once(before=mem.reset)
            if dt is not None:
                times.append(dt)
                written.append(fs_bytes_written(wl.spark) - b0)
                peaks.append(mem.peak())
            shutil.rmtree(loop.last_wh)
    if not times:
        raise RuntimeError("no operation succeeded")
    run_s = statistics.median(times)
    print(f"run_s samples: {' '.join(f'{t:.3f}' for t in times)}")
    return {"run_s": run_s,
            "docs_per_s": wl.docs / run_s,
            "write_amp": statistics.median(written) / wl.inp.input_bytes,
            "peak_pss_mb": statistics.median(peaks) / 1e6,
            "setup_s": setup_s}, loop


def traced(wl, start_s: float, work: str) -> tuple[dict, Loop, list[str]]:
    from probes import Groups, join_task_skew, reduce_event_log
    from standard_data_quality_framework_spark.pipeline import (
        run_quality_filter)
    from trace import kernel_profile, layer_metrics, noop

    loop = Loop(wl)
    # the untraced reference runs with a JIT one operation colder than
    # the traced one, which biases trace.overhead_s low; a second
    # reference operation would not fit the run-time budget (README)
    loop.once()
    untraced_s = loop.last_s
    # restart with the event log on; the JVM (and its JIT) stays warm
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    wl.spark.stop()
    spark = wl.spark = start_session({
        "spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false"})
    # the new context forks new Python workers; spawn them untimed
    out = run_quality_filter(
        spark, spark.read.parquet(wl.inp.pages_dir).sample(0.02, seed=1))
    noop(out.signals)
    groups = Groups(spark)
    m = {"session.start_s": start_s}
    with groups.span("op"):
        loop.once()
    traced_s = loop.last_s
    # an operation whose output check failed still gives its layer
    # split (the run then reports correct: false); one that raised
    # does not
    if traced_s is None or untraced_s is None:
        raise RuntimeError("the traced or untraced operation raised")
    m["runner.jobs"] = groups.jobs("op")
    notes = []
    if wl.dedup:
        # from the traced operation's dup_clusters, whether or not its
        # planted-pair check passed, so a drop shows as a number
        m["dedup.recall"] = 1 - wl.missed(loop.last_wh) / len(wl.inp.planted)
    else:
        m["dedup.recall"] = 0
        notes.append("dedup.recall: reported as 0 — no planted "
                     "near-duplicates in this workload")
    layers, more = layer_metrics(spark, wl, groups)
    m.update(layers)
    notes += more
    m.update(kernel_profile(wl.inp))
    spark.stop()

    ev = reduce_event_log(log_dir)
    op = ev["op"]
    m["engine.executor_cpu_s"] = op["cpu_s"]
    m["engine.gc_s"] = op["gc_s"]
    m["engine.shuffle_write_bytes"] = op["shuffle_write_bytes"]
    m["engine.spill_bytes"] = op["spill_bytes"]
    m["pipeline.verdict_shuffle_bytes"] = (
        ev["pipeline.verdict"]["shuffle_write_bytes"])
    m["pipeline.verdict_task_skew"] = join_task_skew(ev["pipeline.verdict"])
    m["runner.traced_run_s"] = traced_s
    m["trace.overhead_s"] = traced_s - untraced_s
    parts = ["models.train_s", "runner.pending_dates_s", "udfs.signals_s",
             "pipeline.verdict_s", "metrics.s", "catalog.write_s",
             "dedup.lsh_s", "dedup.cc_s"]
    m["runner.unattributed_s"] = traced_s - sum(m[k] for k in parts)
    print(f"untraced run_s {untraced_s:.3f}; traced run_s {traced_s:.3f} "
          f"= {' + '.join(f'{k} {m[k]:.3f}' for k in parts)} "
          f"+ runner.unattributed_s {m['runner.unattributed_s']:.3f}")
    return m, loop, notes


def main(argv=None) -> int:
    with open(ROOT / "BENCHMARK.json") as f:
        spec = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    names = [w["name"] for w in spec["workloads"]]
    p.add_argument("--workload", required=True, choices=names + ["all"],
                   help="'all' runs every workload, each in a fresh process")
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.workload == "all":
        for name in names:
            subprocess.run([sys.executable, __file__, "--workload", name,
                            "--seed", str(args.seed),
                            "--seconds", str(args.seconds),
                            "--trace", str(args.trace)], check=True)
        return 0

    if not ((ROOT / "standard_data_quality_framework_spark" / "runner.py")
            .is_file() and (ROOT / "tests" / "oracle.py").is_file()):
        print(f"perfbench: no quality-filter package or tests/oracle.py "
              f"under {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(HERE), str(ROOT)]
    from inputs import load, prepare, start_labeler
    from workloads import WORKLOADS

    cache = ROOT / ".perfbench_cache"
    work = cache / f"work-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # every process of the run (JVM, Python workers) keeps its files
    # inside the checkout
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(
            [str(ROOT)] + [x for x in [os.environ.get("PYTHONPATH")] if x]),
        "TMPDIR": str(work / "tmp"),
        "SPARK_LOCAL_DIRS": str(work / "local"),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'}",
        "SDQF_DRIVER_MEM": HEAP,
    })
    kind, cls = WORKLOADS[args.workload]
    labeler = None
    try:
        inp = prepare(str(cache), kind, args.seed)
        log("inputs ready")
        spark, start_s, setup_s = timed_setup()
        wl = cls(spark, inp, str(work), str(cache))
        log("set-up done")
        labeler = start_labeler(inp)
        wl.prepare()
        wl.warm_up()
        load(inp, labeler)
        log("warm-up done, expected outputs ready")
        if args.trace:
            metrics, loop, notes = traced(wl, start_s, str(work))
            wanted = spec["per_layer"]
        else:
            metrics, loop = untraced(wl, args.seconds, setup_s)
            notes = []
            wanted = spec["end_to_end"]
    finally:
        if labeler is not None and labeler.poll() is None:
            labeler.kill()
            labeler.wait()
        stop_jvm()
        log("Spark stopped")
        shutil.rmtree(work, ignore_errors=True)

    out = {}
    print(f"{args.workload} seed {args.seed}: {loop.attempted} checked "
          f"operation(s), {loop.failed} failed; failed_ops_frac "
          f"{loop.failed / loop.attempted:.3f}")
    for mt in wanted:
        v = metrics[mt["name"]]
        out[mt["name"]] = {"value": v, "unit": mt["unit"]}
        print(f"  {mt['name']:<32} {v:>16.6g} {mt['unit']}")
    for n in notes:
        print(f"  note: {n}")
    print(json.dumps({"correct": loop.failed == 0,
                      "attempted": loop.attempted, "failed": loop.failed,
                      "metrics": out}))
    return 0


def stop_jvm() -> None:
    """Stop Spark, then the JVM behind it, and wait until it (and the
    Python workers it forked) have exited."""
    from pyspark import SparkContext

    from probes import descendants
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    jvm_tree = set(descendants(os.getpid()))
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while jvm_tree & set(descendants(os.getpid())) and time.time() < deadline:
        time.sleep(0.1)


if __name__ == "__main__":
    sys.exit(main())
