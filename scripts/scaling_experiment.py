"""North-rule scaling evidence: same job, same input, two parallelism
levels (local[2] vs local[8] = N and 4N cores), interleaved pairs.

Protocol (BENCH.md "Scaling efficiency"): per leg, bench.py flagship-only
with an untimed warm-up then best-of-SPARK_GRAFT_BENCH_ITERS (default 2);
legs alternate 2/8 within each pair so co-tenant noise phases hit both
sides; report per-pair ratios and medians. Run with NOTHING else on the
box.

Usage: python scripts/scaling_experiment.py [n_pairs] [replicate] [lo_cpus] [hi_cpus]
Prints one JSON line with the raw pairs + medians + efficiency.
(lo/hi default 2/8; the rule fixes the 4x ratio, not N itself — on one
box the smallest leg is turbo/bandwidth-flattered, so larger N pairs
like 4/16 are a fairer executor-scaling proxy.)

SPARK_GRAFT_PIN=1 pins each leg to exactly its core count
(taskset -c 0..cpus-1). Rationale: the north rule compares N vs 4N
EXECUTORS, and an executor has exactly its cores. Unpinned on a 32-core
box, the local[4] leg's JVM GC/shuffle threads and its forked Python
workers overflow onto the 28 idle cores — a subsidy only the SMALL leg
enjoys, deflating the measured ratio below what 4x the executors would
deliver. Pinning charges every leg its own auxiliary work, like real
executors. Caveat recorded with the run: under a 4-core pin the
in-bench stream8 probe timeshares 8 workers over 4 cores, so its MB/s
reading is not comparable to unpinned calm bands (the single-threaded
grid/xor sentinel stays valid).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _leg_sentinel(leg: dict):
    """Compact per-leg noise evidence: the single-threaded grid/xor
    sentinel from bench.py's before/after probes.  A hot box inflates
    these (no Spark involved), so readers can separate co-tenant noise
    from engine scaling without trusting the ratio alone."""
    noise = leg.get("noise") or {}
    vals = []
    for key in ("probe_before", "probe_after"):
        probe = noise.get(key) or {}
        s = probe.get("sentinel_s")
        if s is not None:
            vals.append(s)
    return vals or None


def run_leg(cpus: int, replicate: int) -> dict:
    lc_cores = os.environ.get("SPARK_GRAFT_LC_CORES")
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.1",
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_BENCH_ITERS="2",
        SPARK_GRAFT_BENCH_ONLY="flagship",
        SPARK_GRAFT_BENCH_REPLICATE=str(replicate),
        # Heap scales with the leg's core count (2 GB/core), because the
        # north rule compares N vs 4N EXECUTORS and executors bring their
        # own memory: a fixed single-JVM heap gives the 4N leg 4x less
        # execution memory per task than the N leg — a shared-driver
        # artifact (spill/GC asymmetry that grows with corpus size), not
        # an engine property. 2 GB/core keeps the lo leg at its
        # historical 8 GB (round-3 runs comparable) and the 4N leg at
        # what four times the executors would actually provide.
        SPARK_DRIVER_MEMORY=f"{2 * cpus}g",
    )
    total_cores = cpus
    if lc_cores:
        # SPARK_GRAFT_LC_CORES=C: true multi-executor legs. The leg's
        # "cpus" argument is the EXECUTOR COUNT; bench.py builds
        # local-cluster[cpus,C,2048*C] — N vs 4N actual executor JVMs
        # (own heaps, own Python pools, netty shuffle), the literal
        # north-rule shape. The driver JVM is identical in both legs
        # (its own node in a real cluster): fixed 8g heap.
        env["SPARK_GRAFT_EXECUTORS"] = f"{cpus},{lc_cores}"
        env["SPARK_DRIVER_MEMORY"] = "8g"
        total_cores = cpus * int(lc_cores)
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if os.environ.get("SPARK_GRAFT_PIN") == "1":
        # Executor-topology legs get extra cores for the driver JVM +
        # bench process (a separate node in a real cluster), so the pin
        # charges executors their own work without starving the driver.
        # Driver headroom must be PROPORTIONAL to the leg (default 1 core
        # per 4 executor cores, min 1): a fixed +4 gives the 1x4 leg a
        # 4-spare/4-worker subsidy while the 4x4 leg gets 4-spare/16 —
        # on a calm box the lo leg's Python workers absorb the idle
        # driver cores and the measured ratio collapses for topology
        # reasons, not engine reasons (observed: fixed +4 lo leg 10.0k
        # p/s vs 8.3k at an honest 4-core pin). SPARK_GRAFT_PIN_DRIVER
        # overrides with a fixed core count for A/B against old runs.
        if lc_cores:
            fixed = os.environ.get("SPARK_GRAFT_PIN_DRIVER")
            headroom = int(fixed) if fixed else max(1, total_cores // 4)
            pin_hi = total_cores + headroom - 1
        else:
            pin_hi = total_cores - 1
        cmd = ["taskset", "-c", f"0-{pin_hi}"] + cmd
    out = subprocess.run(
        cmd,
        env=env,
        capture_output=True,
        text=True,
        timeout=1800,
    )
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def median(xs):
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


def main():
    n_pairs = int(sys.argv[1]) if len(sys.argv) > 1 else 6
    replicate = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    lo_cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    hi_cpus = int(sys.argv[4]) if len(sys.argv) > 4 else 8
    assert hi_cpus == 4 * lo_cpus, "the rule compares N vs 4N"
    pairs = []
    for i in range(n_pairs):
        lo = run_leg(lo_cpus, replicate)
        hi = run_leg(hi_cpus, replicate)
        pair = {
            "rep": i + 1,
            "pps_lo": lo["pages_per_sec"],
            "pps_hi": hi["pages_per_sec"],
            "ratio": round(hi["pages_per_sec"] / lo["pages_per_sec"], 3),
            "sentinel_lo_s": _leg_sentinel(lo),
            "sentinel_hi_s": _leg_sentinel(hi),
        }
        pairs.append(pair)
        print(f"pair {i+1}: local[{lo_cpus}] {pair['pps_lo']} p/s  "
              f"local[{hi_cpus}] {pair['pps_hi']} p/s  ratio {pair['ratio']}",
              file=sys.stderr, flush=True)
    med2 = median([p["pps_lo"] for p in pairs])
    med8 = median([p["pps_hi"] for p in pairs])
    med_ratio = median([p["ratio"] for p in pairs])
    print(json.dumps({
        "pairs": pairs,
        "lo_cpus": lo_cpus, "hi_cpus": hi_cpus, "median_pps_lo": med2,
        "median_pps_hi": med8,
        "median_of_medians_ratio": round(med8 / med2, 3),
        "median_pair_ratio": med_ratio,
        "efficiency_medians": round(med8 / med2 / 4.0, 3),
        "efficiency_pair_median": round(med_ratio / 4.0, 3),
        "replicate": replicate,
        "pinned": os.environ.get("SPARK_GRAFT_PIN") == "1",
        "lc_cores_per_executor": os.environ.get("SPARK_GRAFT_LC_CORES"),
    }))


if __name__ == "__main__":
    main()
