"""Scaling-efficiency evidence (north rule: >=0.8 efficiency N -> 4N).

Runs the identical end-to-end quality-filter job on the identical
pages input at local[8] and local[32] (the sandbox stand-in for N and
4N executors), in separate JVMs, and reports docs/sec at both plus
efficiency = speedup / 4. Writes/updates BENCH/BASELINE.md.

Measurement protocol (this sandbox VM frequency-throttles under
sustained all-core load - identical runs were observed to spread
16s..88s):
  * leftover JVM/python daemons are killed and CPUs drained before
    every sample;
  * a fixed cool-down precedes every sample so each run starts from
    the same thermal/credit state;
  * 3 samples per level, alternating order, best taken;
  * a raw-CPU calibration (pure multiprocessing burn, no Spark) is
    measured under the same protocol - it bounds what ANY job can
    achieve on this box, and job efficiency is reported both raw and
    relative to that hardware envelope.

Usage: python bench_scaling.py [n_pages] [--quick]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
COOLDOWN_S = int(os.environ.get("SDQF_BENCH_COOLDOWN", "45"))
CORES_LO = int(os.environ.get("SDQF_CORES_LO", "8"))
CORES_HI = int(os.environ.get("SDQF_CORES_HI", "32"))
ROUNDS = int(os.environ.get("SDQF_BENCH_ROUNDS", "3"))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {root!r})
from standard_data_quality_framework_spark.session import get_spark
from standard_data_quality_framework_spark.functions.udfs import make_udfs
from standard_data_quality_framework_spark.pipeline import run_quality_filter

cores = {cores}
# 32 MB scan splits: the UDF stage costs ~ms/doc of CPU, so byte-based
# 128 MB splits under-fan the scan (16 splits for the 1M-page fixture).
# Smaller splits feed every core straight off the scan — NO raw-page
# repartition: shuffling the html+text bytes before the UDF measured
# 133s vs 59s at 16 cores on the same input.
spark = get_spark("scale_bench", cores=cores, shuffle_partitions=cores,
                  extra_conf={{"spark.sql.files.maxPartitionBytes":
                               "33554432"}})
udfs = make_udfs(spark)
pages = spark.read.parquet({pages!r})
# warm-up: JIT, Python worker pool, broadcast ship (small slice;
# limit() collapses to 1 partition, so re-fan-out)
warm = run_quality_filter(spark, pages.limit(2000).repartition(cores),
                          udfs=udfs)
warm.verdicts.write.format("noop").mode("overwrite").save()
t0 = time.perf_counter()
out = run_quality_filter(spark, pages, udfs=udfs)
out.verdicts.write.format("noop").mode("overwrite").save()
dt = time.perf_counter() - t0
n = pages.count()
print("RESULT " + json.dumps({{"cores": cores, "sec": dt, "docs": n,
                               "docs_per_sec": n / dt}}))
spark.stop()
"""

_BURN = r"""
import json, sys, time
import multiprocessing as mp

def burn(dur):
    t0 = time.time(); x = 0
    while time.time() - t0 < dur:
        x += 1
    return x

if __name__ == "__main__":
    n = {cores}
    with mp.Pool(n) as p:
        total = sum(p.map(burn, [8.0] * n))
    print("RESULT " + json.dumps({{"cores": n, "iters_per_sec": total / 8.0}}))
"""


def _drain() -> None:
    subprocess.run("pkill -f pyspark.daemon; pkill -f SparkSubmit",
                   shell=True, capture_output=True)
    for _ in range(30):
        r = subprocess.run("pgrep -c java", shell=True,
                           capture_output=True, text=True)
        if r.stdout.strip() in ("", "0"):
            break
        time.sleep(1)
    time.sleep(COOLDOWN_S)


def _run(code: str) -> dict:
    _drain()
    r = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=3000)
    for line in r.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"child failed: {r.stdout[-1500:]}\n{r.stderr[-1500:]}")


def main() -> None:
    n_pages = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
    rounds = 1 if "--quick" in sys.argv else ROUNDS
    from bench import _pages_path
    pages = _pages_path(0.1, n_pages)

    # hardware calibration FIRST (coolest state = fairest ceiling)
    burn32 = _run(_BURN.format(cores=CORES_HI))
    burn8 = _run(_BURN.format(cores=CORES_LO))
    runs8, runs32 = [], []
    for _ in range(rounds):
        runs32.append(_run(_CHILD.format(root=ROOT, cores=CORES_HI, pages=pages)))
        runs8.append(_run(_CHILD.format(root=ROOT, cores=CORES_LO, pages=pages)))

    for r in runs8 + runs32:
        print(json.dumps({"sample": True, "cores": r["cores"],
                          "sec": round(r["sec"], 2)}))
    r8 = min(runs8, key=lambda r: r["sec"])
    r32 = min(runs32, key=lambda r: r["sec"])
    hw8 = burn8["iters_per_sec"]
    hw32 = burn32["iters_per_sec"]

    speedup = r32["docs_per_sec"] / r8["docs_per_sec"]
    eff = speedup / 4.0
    hw_speedup = hw32 / hw8
    eff_vs_hw = speedup / hw_speedup if hw_speedup else float("nan")
    report = {
        "n_pages": n_pages,
        "cores_lo": CORES_LO, "cores_hi": CORES_HI,
        "lo_docs_per_sec": round(r8["docs_per_sec"], 1),
        "hi_docs_per_sec": round(r32["docs_per_sec"], 1),
        "lo_sec": round(r8["sec"], 2),
        "hi_sec": round(r32["sec"], 2),
        "speedup_lo_to_hi": round(speedup, 3),
        "scaling_efficiency": round(eff, 3),
        "hw_sustained_speedup": round(hw_speedup, 3),
        "efficiency_vs_hw_envelope": round(eff_vs_hw, 3),
    }
    print(json.dumps(report))

    md = f"""# BENCH/BASELINE — measured numbers

The reference publishes no benchmarks (see /root/repo/BASELINE.md), so
targets come from the driver contract. North-rule scaling evidence —
the SAME end-to-end quality-filter job (extract → native signals →
langid/perplexity/repetition UDF → verdict dedup agg+join → scrub) on the SAME
{n_pages:,}-page input at two parallelism levels, separate JVMs,
best-of-{rounds} with leftover-process drain + {COOLDOWN_S}s cool-down
before every sample:

| run | parallelism | input | docs/sec | sec | scaling efficiency vs local[{CORES_LO}] |
|---|---|---|---|---|---|
| quality_filter | local[{CORES_LO}]  | pages n={n_pages:,} (seed 42) | {report['lo_docs_per_sec']} | {report['lo_sec']} | 1.00 (base) |
| quality_filter | local[{CORES_HI}] | pages n={n_pages:,} (seed 42) | {report['hi_docs_per_sec']} | {report['hi_sec']} | {report['scaling_efficiency']} (target ≥ 0.8) |

## Hardware envelope caveat (measured, reproducible)

This sandbox VM frequency-throttles under sustained all-core load: a
pure-CPU multiprocessing burn (no Spark, no I/O) measured under the
same drain+cool-down protocol sustains only
**{report['hw_sustained_speedup']}×** more total throughput at
32 processes than at 8 — the box cannot exhibit 4× on ANY sustained
CPU-bound workload. Relative to that measured hardware envelope, the
quality-filter job achieves
**{report['efficiency_vs_hw_envelope']}× of the achievable speedup**
(job speedup {report['speedup_lo_to_hi']}× ÷ hardware ceiling
{report['hw_sustained_speedup']}×). On a real multi-executor
cluster (N → 4N machines, no shared thermal budget) the job's scaling
path is shuffle-free until the verdict dedup exchange (a skew-
splittable aggregate+join since r5, never a window sort) and
AQE-coalesced after it; nothing in the plan is driver-serial.

Reproduce: `python bench_scaling.py {n_pages}`. Per-query suite:
`SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench.py`.
"""
    os.makedirs(os.path.join(ROOT, "BENCH"), exist_ok=True)
    out_md = os.environ.get("SDQF_BENCH_MD", "")
    if out_md:
        with open(out_md, "w") as f:
            f.write(md)


if __name__ == "__main__":
    main()
