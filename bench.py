"""Benchmark harness (driver contract).

Runs the headline pipelines at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
  {"metric": ..., "value": <sec>, "unit": "sec", "queries": {...},
   "sf": ..., "pages": N, "pages_per_sec": ...}

The flagship metric is the full boolean-op + tile-assignment pipeline
(documents -> extract -> pair join -> 4 kernel ops -> tile explode),
reported as wall seconds plus derived pages/sec. Set
SPARK_GRAFT_BENCH_REPLICATE to scale the flagship corpus (deterministic
page replication; default 8). Every other op is the __spark_entry__
contract callable named in `OPS`, timed at $SPARK_GRAFT_SF_DIR as the
correctness gate grades it.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _stream_worker(q, size_mb: int, iters: int):
    import numpy as np

    n = size_mb * 1024 * 1024 // 8
    b = np.ones(n)
    c = np.ones(n)
    best = None
    for _ in range(iters):
        t0 = time.perf_counter()
        a = b + 2.5 * c  # STREAM triad: read b, read c, write a
        dt = time.perf_counter() - t0
        del a
        if best is None or dt < best:
            best = dt
    q.put(3 * n * 8 / best / 1e6)


def _stream_mbps(n_proc: int, size_mb: int = 96, iters: int = 3) -> float:
    """Aggregate memory bandwidth (MB/s) of n_proc concurrent STREAM-triad
    workers. The flagship's kernel stage is allocation-heavy Python across
    32 workers, so shared-DRAM contention is the box resource co-tenants
    steal first — and the one a single-threaded sentinel cannot see."""
    import multiprocessing as mp

    ctx = mp.get_context("fork")
    q = ctx.Queue()
    ps = [ctx.Process(target=_stream_worker, args=(q, size_mb, iters)) for _ in range(n_proc)]
    for p in ps:
        p.start()
    vals = [q.get() for _ in ps]
    for p in ps:
        p.join()
    return round(sum(vals), 0)


# One row per benchmarked op: (bench op name, the __spark_entry__ query it
# times, calm band in seconds). Each op is its contract callable, so bench
# and correctness gate time and grade the same frame. A calm band is 2x
# the op's best wall in a calm local[4] sf0.1 run
# (scripts/bench_runs_r6/calm_63op_local4.json); a best-of-N above 2x its
# band triggers extra re-runs and attaches a noise probe to the op's
# entry, so every recorded number carries its own noise evidence.
OPS = [
    ("pip_join", "g04_pip_join", 4.5),
    ("knn_join", "g05_knn_join", 2.2),
    ("zonal_stats", "g06_zonal_stats", 4.3),
    ("asof_join", "r15_asof_join", 1.2),
    ("sessionize", "r16_sessionize", 1.4),
    ("interval_join", "r24_interval_join", 1.8),
    ("group_median", "h09_group_median", 1.0),
    ("focal_sum", "g23_focal_heatmap", 0.8),
    ("exact_dedup", "t01_exact_dedup", 0.8),
    ("minhash_dedup", "d01_minhash_pairs", 8.0),
    ("ngram_jaccard", "d03_ngram_jaccard", 14.4),
    ("cosine_topk", "s01_cosine_topk", 1.3),
    ("ivf_topk", "s04_ivf_topk", 7.2),
    ("pq_topk", "s08_pq_topk", 25.2),
    ("boilerplate_lines", "d06_boilerplate_lines", 1.8),
    ("quality_filter", "t11_quality_filter", 3.6),
    ("skyline", "h10_skyline", 1.5),
    ("url_dedup", "d05_url_dedup", 0.6),
    ("exact_quantiles", "h02_exact_quantiles", 3.1),
    ("stratified_sample", "t12_stratified_sample", 0.4),
    ("incremental_dedup", "d07_incremental_dedup", 11.7),
    ("tile_pyramid", "g15_tile_pyramid", 6.9),
    ("decontaminate", "t15_decontaminate", 11.3),
    ("lang_balance", "t16_lang_balance", 0.6),
    ("simplify", "g17_simplify", 6.3),
    ("line_dedup", "t17_line_dedup", 0.5),
    ("bigram_collocations", "h03_bigram_assoc", 2.4),
    ("substring_dup", "d09_substring_dup", 5.8),
    ("edit_pairs", "d10_edit_pairs", 4.5),
    ("containment_pairs", "d12_containment_pairs", 6.0),
    ("zipf_histogram", "h06_zipf_histogram", 0.9),
    ("vocab_stats", "h04_vocab_stats", 1.1),
    ("hll_sketch", "h07_hll_sketch", 2.4),
    ("token_freq_score", "t19_token_freq_score", 2.0),
    ("cm_sketch", "h08_cm_sketch", 2.3),
    ("bm25_search", "t18_bm25_search", 2.6),
    ("length_token_corr", "h05_length_token_corr", 1.2),
    ("iou", "g19_iou", 7.0),
    ("tile_weights", "g20_tile_weights", 11.7),
    ("convex_hull", "g18_convex_hull", 4.6),
    ("shape_stats", "g21_shape_stats", 5.4),
    ("group_quantiles", "h11_group_quantiles", 1.3),
    ("group_mode", "h12_group_mode", 0.8),
    ("funnel", "h13_funnel", 1.1),
    ("latest_snapshot", "r32_latest_per_key", 0.7),
    ("hamming_topk", "s09_hamming_topk", 5.0),
    ("oov_rate", "t20_oov_rate", 1.9),
    ("sequence_packing", "t21_sequence_packing", 0.8),
    ("token_novelty", "t22_token_novelty", 1.5),
    ("grid_clusters", "g26_grid_clusters", 5.4),
    ("morton_blocks", "g24_morton_blocks", 0.6),
    ("weighted_median", "h20_weighted_median", 1.4),
    ("morans_i", "g32_morans_i", 2.1),
    ("word_length_profile", "t26_word_length_profile", 1.4),
    ("hamming_histogram", "s13_hamming_histogram", 2.4),
    ("array_functions", "r37_array_functions", 1.0),
    ("salted_flagship", "g33_salted_boolean_pipeline", 13.2),
    ("winding_audit", "g36_ring_winding_audit", 8.3),
    ("composition_drift", "t27_composition_drift", 0.9),
    ("dup_savings", "d17_dup_savings_by_source", 0.8),
    ("hamming_nn_degree", "s14_hamming_nn_degree", 6.4),
    ("cell_neighbors", "g37_cell_neighbor_occupancy", 1.5),
]

# Flagship calm band at the default replicate=8 corpus, same rule and run
# (other corpus sizes run unbanded).
FLAGSHIP_CALM_MAX = 18.1

# Calm-box noise readings on a 4-core box: sentinel seconds (range) and
# 8-worker STREAM-triad MB/s (floor).
SENTINEL_CALM = [0.25, 0.40]
STREAM8_CALM_MIN = 19000


def sentinel_s() -> float:
    """Best-of-2 wall seconds of the generated grid/xor criterion case on
    the pure-Python kernel: the cheap single-threaded co-tenant-noise
    sentinel (calm band SENTINEL_CALM). Needs no fixture file."""
    from rust_geo_booleanop_spark.kernel import boolean_op
    from rust_geo_booleanop_spark.kernel.bench_cases import generate_grid_polygons

    subject, clipping = generate_grid_polygons()
    best = None
    for _ in range(2):
        t0 = time.perf_counter()
        boolean_op(subject, clipping, "xor")
        dt = time.perf_counter() - t0
        if best is None or dt < best:
            best = dt
    return round(best, 4)


def box_noise_probe() -> dict:
    """Cheap (~3 s) co-tenant-noise snapshot, recorded alongside every
    flagship measurement so a slow number of record carries its own
    explanation: the single-threaded sentinel plus aggregate memory
    bandwidth and load."""
    return {
        "sentinel_s": sentinel_s(),
        "stream8_mbps": _stream_mbps(8),
        "loadavg_1m": round(os.getloadavg()[0], 1),
    }


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Default corpus = 8x page replication (40k pages at sf0.1): large
    # enough that per-task scheduling overhead (~0.2-0.35 s/task on this
    # virtualized box) amortizes against real kernel work and pages/sec
    # reflects sustained throughput, not the small-input task-launch floor.
    replicate = int(os.environ.get("SPARK_GRAFT_BENCH_REPLICATE", "8"))
    only_flagship = os.environ.get("SPARK_GRAFT_BENCH_ONLY") == "flagship"

    from rust_geo_booleanop_spark.kernel import resolve_boolean_op
    from rust_geo_booleanop_spark.operators import (
        assign_tiles,
        boolean_pipeline,
        extract_geometries,
    )
    from rust_geo_booleanop_spark.plans import get_spark
    from rust_geo_booleanop_spark.sources import build_documents

    import __spark_entry__ as entrymod

    # Reference criterion parity set (benchmark.rs:18-81): single-core
    # kernel micro-benches, run BEFORE the JVM comes up so Spark startup
    # noise can't contaminate them. Tracked round-over-round.
    kernel_cases = None
    kernel_cases_python = None
    if not only_flagship:
        from rust_geo_booleanop_spark.kernel.bench_cases import run_criterion_cases

        # kernel_cases = the engine-active kernel (native C when available,
        # round 3+); kernel_cases_python = the pure-Python reference kernel,
        # directly comparable with the kernel_cases of rounds 1-2.
        kernel_cases = run_criterion_cases(iters=2, op_fn=resolve_boolean_op())
        kernel_cases_python = run_criterion_cases(iters=2)

    # SPARK_GRAFT_EXECUTORS="N,CORES" switches the bench from local[cpus]
    # threads to a true multi-executor topology: local-cluster[N,CORES,mem]
    # forks N separate executor JVMs (own heap, own Python worker pools,
    # netty shuffle between them) — the literal "N vs 4N executors" shape
    # of the north rule, as close as a single box gets to a real cluster.
    # Memory is per-executor (2 GB/core), exactly the proportional-heap
    # protocol the thread-mode scaling legs use for the whole driver.
    executors = os.environ.get("SPARK_GRAFT_EXECUTORS")
    if executors:
        n_exec, exec_cores = (int(x) for x in executors.split(","))
        mem_mb = 2048 * exec_cores
        cpus = str(n_exec * exec_cores)
        spark = get_spark(
            app_name="bench",
            master=f"local-cluster[{n_exec},{exec_cores},{mem_mb}]",
            shuffle_partitions=2 * n_exec * exec_cores,
            extra_conf={
                "spark.executor.memory": f"{mem_mb}m",
                # executor JVMs spawn their Python workers outside the
                # driver's sys.path bootstrap; point them at the repo.
                "spark.executorEnv.PYTHONPATH": os.path.dirname(
                    os.path.abspath(__file__)
                ),
            },
        )
    else:
        spark = get_spark(app_name="bench", master=f"local[{cpus}]")

    timings: dict[str, float] = {}

    # This box's co-tenant noise swings identical runs up to ~2.5x (steal
    # counter stays near zero — it's memory-bandwidth/frequency contention,
    # invisible to the guest). Warm-up gets steady state; best-of-N timed
    # iterations bounds the noise exposure of the reported number.
    bench_iters = int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "2"))

    op_evidence: dict[str, dict] = {}

    def timed(name, fn, calm_max, max_iters=6):
        """Noise-defended timing for EVERY recorded op. Sample until the
        floor is corroborated (two samples within 10 % of the best) AND
        the best sits inside 2x the op's calm band, or max_iters is
        spent. On a calm box this costs exactly bench_iters runs; a best
        that still lands outside its band goes on record with its own
        noise probe, so the artifact proves whether it was the box or
        the code."""
        fn()  # untimed warm-up: steady-state worker pool + JIT'd codegen
        base = max(2, bench_iters)
        samples: list[float] = []
        out = None
        while len(samples) < max_iters:
            t0 = time.time()
            out = fn()
            samples.append(round(time.time() - t0, 3))
            if len(samples) >= base:
                s = sorted(samples)
                corroborated = s[1] <= s[0] * 1.10
                in_band = calm_max is None or s[0] <= 2.0 * calm_max
                if corroborated and in_band:
                    break
                # Hot box: once the floor is corroborated with two extra
                # attempts spent, more re-runs can't prove anything the
                # attached probe doesn't — stop burning time.
                if corroborated and len(samples) >= base + 2:
                    break
        best = min(samples)
        timings[name] = best
        evidence: dict = {"samples": samples}
        if calm_max is not None:
            evidence["calm_max_s"] = calm_max
            if best > 2.0 * calm_max:
                evidence["probe"] = box_noise_probe()
                evidence["sentinel_after"] = evidence["probe"]["sentinel_s"]
        op_evidence[name] = evidence
        return out

    # Warm the JVM + ALL Python workers (one task per core, through the
    # same import-heavy code path) so the measured run isn't dominated by
    # interpreter spawn + module imports on 32 cold workers.
    n_workers = int(cpus) if cpus.isdigit() else (os.cpu_count() or 8)

    # Build the native kernel once on the driver (content-hashed .so)
    # before workers fork: they then just dlopen it.
    resolve_boolean_op()

    def _warm(batches):
        import pandas as _pd  # noqa: F401
        from rust_geo_booleanop_spark.kernel import resolve_boolean_op as _r
        _r()  # dlopen the native kernel in every pooled worker
        for b in batches:
            yield b

    spark.range(n_workers * 4).repartition(n_workers * 2).mapInPandas(
        _warm, schema="id long"
    ).count()

    # --- flagship: boolean ops + tile assignment ---
    docs = build_documents(spark, sf_dir, replicate=replicate)
    pages = docs.count()

    def flagship():
        geoms = extract_geometries(docs)
        tiled = assign_tiles(boolean_pipeline(geoms))
        return tiled.count()

    # Every op gets one untimed run first. The pipelines chain up to
    # ~3 Arrow evals per task, each leasing its own Python worker
    # concurrently, so peak worker demand is ~3x cores; the warm-up
    # iteration grows the reused-worker pool to that demand (fresh forks
    # pay contended pandas/numpy imports, measured 1-3.5 s each). Timing
    # the steady state measures the engine, not the fork storm — on a real
    # cluster the pool persists across jobs anyway.
    probe_before = box_noise_probe()
    n_tiled = timed(
        "flagship_boolean_tiling", flagship,
        FLAGSHIP_CALM_MAX if replicate == 8 else None,
    )
    probe_after = box_noise_probe()
    noise = {
        "flagship_samples": op_evidence["flagship_boolean_tiling"]["samples"],
        "probe_before": probe_before,
        "probe_after": probe_after,
        "ops": op_evidence,
        "calm_bands": {"sentinel_s": SENTINEL_CALM, "stream8_mbps_min": STREAM8_CALM_MIN},
    }

    # Every other op is its contract callable, written to the noop sink:
    # a count() would let Catalyst prune pure-JVM projection columns and
    # skip the op's work.
    qs = {**entrymod.queries(), **entrymod.STAGED_QUERIES}
    for name, query, calm_max in [] if only_flagship else OPS:

        def write_noop(run=qs[query]):
            run(spark, sf_dir).write.format("noop").mode("overwrite").save()

        timed(name, write_noop, calm_max)

    flagship_sec = timings["flagship_boolean_tiling"]
    result = {
        "metric": "flagship_boolean_tiling_wall_sec",
        "value": flagship_sec,
        "unit": "sec",
        "queries": timings,
        "kernel_cases": kernel_cases,
        "kernel_cases_python": kernel_cases_python,
        "noise": noise,
        "sf": sf_dir,
        "cpus": n_workers,
        "executors": executors,
        "pages": pages,
        "tiled_rows": n_tiled,
        "pages_per_sec": round(pages / flagship_sec, 1) if flagship_sec > 0 else None,
    }
    print(json.dumps(result))
    spark.stop()


if __name__ == "__main__":
    main()
