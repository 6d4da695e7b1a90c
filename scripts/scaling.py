"""Scaling-efficiency evidence (BASELINE.json north_rule): run the SAME
flagship tiers pipeline on the SAME input at two parallelism levels
(local[8] = N, local[32] = 4N — the sandbox proxy for N vs 4N executors),
report throughput at both + efficiency = (pps_32 / pps_8) / 4.

The workload must be compute-dominated for the comparison to mean anything:
default 2M rows over a 56-day horizon with 64 sources (5.2M 1m-grid cells,
~86k eigen spans, ~5M codec points). At the 100k-row test scale the job is
scheduling-overhead-dominated and MORE cores lose — that regime is reported
honestly in BENCH.md, not hidden.

Each level runs in its own subprocess (a JVM can't change master); results
land on stdout as JSON and are recorded in BENCH.md.

Hardware note (measured, scripts/scaling.py keeps the probe honest): this
sandbox reports nproc=32 but a pure-CPU burn shows only ~2.8x total compute
from 8 -> 32 processes (16 physical cores + SMT), so 8-vs-32 can NEVER show
4x. Worse, the kernel encoders are memory-bandwidth-bound: at 8 concurrent
Python workers + the shuffle JVM the single box's bus saturates (2 -> 8
plateaus at ~2.3x even though the same burn scales 4.0x). The N-vs-4N proxy
therefore defaults to local[1] vs local[4] — both well inside the physical
core AND bandwidth budget, the closest this one machine gets to independent
executors; pass explicit levels to override (2,8 numbers are reported in
BENCH.md for completeness).

Usage: python scripts/scaling.py [n_rows] [repeats] [horizon_days] [n_sources] [lo,hi]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

CHILD = r"""
import json, sys, time
sys.path.insert(0, ".")
cores = int(sys.argv[1]); horizon_s = int(sys.argv[2]); data = sys.argv[3]
from functools import reduce
from pyspark.sql import functions as F
from covsar_spark.session import get_spark
from covsar_spark.plans.pipeline import run_tiers

spark = get_spark(f"scaling_{cores}", cores=cores, shuffle_partitions=cores * 2)
tokens = spark.read.parquet(data).select("doc_id", "n_tok", "source")
tokens.count()  # warm scan outside the timed region

def one_run():
    tiers = run_tiers(tokens, with_eigen=True, with_chunks=True, with_filled=False,
                      persist=True, horizon_s=horizon_s)
    # ONE action: the kernel output carries eigen + blobs + per-span point
    # counts; the dense filled table stays lazy (the retention store is the
    # compressed chunks — dense rows decode on demand). points = sum(n_points).
    fused_all = reduce(lambda a, b: a.unionByName(b), [d["fused"] for d in tiers.values()])
    return fused_all.select(F.sum("n_points")).collect()[0][0]

# Steady-state protocol: one untimed warm-up run boots the Python workers,
# JIT-compiles the codegen stages, and primes the whole-plan machinery —
# per-PROCESS flat costs that a real N-vs-4N cluster comparison would never
# see (each executor pays them once, independent of cluster size). The cache
# is cleared so the timed run re-executes every stage from the parquet scan.
one_run()
spark.catalog.clearCache()

def gc_ms():
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

g0 = gc_ms()
t0 = time.time()
points = one_run()
wall = time.time() - t0
dgc = gc_ms() - g0
print(json.dumps({"cores": cores, "wall_s": round(wall, 3), "points": points,
                  "pps": round(points / wall, 1),
                  "gc_ms": dgc,
                  # GC stop-the-world as a fraction of the run: the profiling
                  # signal for where the parallel level loses efficiency
                  "gc_frac": round(dgc / 1000.0 / wall, 4)}))
"""


def run_level(cores: int, horizon_s: int, data: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(cores), str(horizon_s), data],
        capture_output=True, text=True, cwd=REPO,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(out.stderr[-2000:])
        raise RuntimeError(f"child (cores={cores}) produced no result")
    return json.loads(lines[-1])


CALIBRATE = r"""
import json, time
import numpy as np
# fixed single-thread burn: matmul + fft, ~1s on an idle core. ops/s is the
# host-speed probe — co-tenant interference shows up as a LOWER number.
rng = np.random.default_rng(0)
A = rng.random((384, 384)); B = rng.random((384, 384))
x = rng.random(1 << 16)
t0 = time.time(); n = 0
while time.time() - t0 < 1.0:
    (A @ B); np.fft.rfft(x); n += 1
print(json.dumps({"calib_ops_s": round(n / (time.time() - t0), 2)}))
"""


def calibrate() -> float:
    out = subprocess.run([sys.executable, "-c", CALIBRATE], capture_output=True, text=True)
    try:
        return json.loads(out.stdout.strip().splitlines()[-1])["calib_ops_s"]
    except Exception:
        return float("nan")


def _median(xs):
    xs = sorted(xs)
    n = len(xs)
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def main():
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    # 5 interleaved (lo, hi) pairs by default (round-4 protocol): back-to-back
    # pair members see the same co-tenant load, so per-pair efficiency is the
    # noise-robust statistic; median + worst pair are reported alongside the
    # legacy best-of headline.
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    horizon_days = int(sys.argv[3]) if len(sys.argv) > 3 else 112
    n_sources = int(sys.argv[4]) if len(sys.argv) > 4 else 128
    lo, hi = (
        (int(x) for x in sys.argv[5].split(","))
        if len(sys.argv) > 5
        else (1, 4)
    )
    from covsar_spark.datagen import write_tokens

    data = f"/tmp/covsar_scaling_tokens_{n_rows}_{n_sources}"
    if not os.path.exists(os.path.join(data, "_DONE")):
        # payload_tokens=False: the pipeline never scans the tokens column
        # (column pruning) — stub payloads keep the 16M-row fixture ~1 GB
        write_tokens(data, n_rows, n_sources=n_sources, payload_tokens=False)
        open(os.path.join(data, "_DONE"), "w").close()
    horizon_s = horizon_days * 86400

    ratio = hi / lo
    results = {lo: [], hi: []}
    pairs = []
    for i in range(repeats):
        pair = {}
        for cores in (lo, hi):
            c0 = calibrate()
            r = run_level(cores, horizon_s, data)
            c1 = calibrate()
            # bracket the run with host-speed probes: min() is the
            # pessimistic host speed the run saw (load can shift mid-run)
            r["calib_ops_s"] = min(c0, c1)
            r["calib_pre"], r["calib_post"] = c0, c1
            results[cores].append(r)
            pair[cores] = r
            print(json.dumps(r))
        p_eff = (pair[hi]["pps"] / pair[lo]["pps"]) / ratio
        calibs = [pair[lo]["calib_ops_s"], pair[hi]["calib_ops_s"]]
        # host-speed imbalance within the pair: >1 means the lo member ran on
        # a faster host moment than the hi member (biases efficiency DOWN)
        imb = calibs[0] / calibs[1] if calibs[1] == calibs[1] and calibs[1] else float("nan")
        pairs.append({"pair": i, "efficiency": round(p_eff, 3), "calib_imbalance": round(imb, 3)})
        print(json.dumps(pairs[-1]))
    best_lo = max(r["pps"] for r in results[lo])
    best_hi = max(r["pps"] for r in results[hi])
    effs = [p["efficiency"] for p in pairs]
    med_lo = _median([r["pps"] for r in results[lo]])
    med_hi = _median([r["pps"] for r in results[hi]])
    eff_median_levels = (med_hi / med_lo) / ratio
    print(
        json.dumps(
            {
                "n_rows": n_rows,
                "horizon_days": horizon_days,
                "n_sources": n_sources,
                "levels": [lo, hi],
                "repeats": repeats,
                f"pps_local{lo}_median": round(med_lo, 1),
                f"pps_local{hi}_median": round(med_hi, 1),
                f"pps_local{lo}_best": best_lo,
                f"pps_local{hi}_best": best_hi,
                "pair_efficiencies": effs,
                "pair_calib_imbalance": [p["calib_imbalance"] for p in pairs],
                "scaling_efficiency": round(_median(effs), 3),
                "scaling_efficiency_median_levels": round(eff_median_levels, 3),
                "scaling_efficiency_best": round((best_hi / best_lo) / ratio, 3),
                "worst_pair": round(min(effs), 3),
                "target": 0.8,
                "pass": _median(effs) >= 0.8,
            }
        )
    )


if __name__ == "__main__":
    main()
