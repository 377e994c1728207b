#!/usr/bin/env python3
"""Benchmark of the engine's geometry pipeline on local[nproc].

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. One driver process runs the engine's
public operators over a seeded page table, one job at a time (closed loop,
one client). Set-up builds the input table(s) from the seed and writes them
to parquet under `.perfbench_work/`, so page synthesis is set-up cost, not
engine time. The timed jobs read that table. Outputs are verified after the
timed region; every mismatch is a failed row, the run is never aborted.

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with `--trace 0`, the per-layer
ledger with `--trace 1`). Lines before it are a readable report. Exit code
2, without a result, when a prerequisite is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

FLAGSHIP_TILE_LEVEL = 4
TILE_CLIP_LEVEL = 6
PARQUET_FILES = 8
GEN_REPEATS = 3
# seconds of full jobs after the first (collected) execution, before
# timing. The JVM keeps compiling, and job times drifting down, for longer
# than a run can wait; this takes out the steepest first jobs, and a long
# timed region puts its median at the same point of that drift every run.
WARMUP_SECONDS = 8
ORACLE_PAIRS = 24
CLIP_ORACLE_ROWS = 400
CLIP_CORE_SAMPLE = 3000
# fewest iterations of a traced run, so its medians are not of one or two
TRACE_ITERATIONS = 5
# Spark driver heap, fixed (-Xms = -Xmx). The engine's own 8g heap grows
# lazily, so the process tree's resident memory would depend on when the
# heap happened to grow (RECORD.md has runs at both settings).
DRIVER_HEAP = "1g"

# Why each workload exists. Sizes keep one job at a few seconds at local[4]
# (most of a small job is Spark's per-job overhead), so one run collects
# several jobs. tile_clip runs on demand; it is not in BENCHMARK.json, whose
# workloads must verify: clip_to_tiles returns wrong rows at this commit
# (RECORD.md, "Known defect"), and tile_clip reports them as failed rows.
WORKLOADS = {
    "flagship": {
        "why": "every page carries a corpus geometry, so the 4-op kernel stage and pair formation do most of the work",
        "kind": "pages",
        "size": 3000,  # cases; two pages each
    },
    "sparse_crawl": {
        "why": "crawl-shaped ~1 KB pages, 1 in 32 with geometry and some dirty: scan and extraction carry much of the work and the dirty-page path runs",
        "kind": "pages",
        "size": 32000,  # pages
    },
    "tile_clip": {
        "why": "level-6 tiles of flagship kernel results clipped one op at a time, so per-row marshalling dominates",
        "kind": "clip",
        "size": 800,  # cases of the flagship table whose results are clipped
    },
}


class Unavailable(Exception):
    """A prerequisite of the benchmark is missing."""


def _prerequisites():
    try:
        import pyarrow  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        raise Unavailable(f"python package missing: {e.name}") from None
    if not (ROOT / "rust_geo_booleanop_spark" / "__init__.py").is_file():
        raise Unavailable(f"engine package rust_geo_booleanop_spark not found under {ROOT}")
    sys.path.insert(0, str(ROOT))
    try:
        from rust_geo_booleanop_spark.kernel import native
    except ImportError as e:
        raise Unavailable(f"engine package does not import: {e}") from None
    if not native.NATIVE_AVAILABLE:
        raise Unavailable("native kernel (kernel/native/martinez.c) did not build; gcc is required")
    if shutil.which("java") is None and not os.environ.get("JAVA_HOME"):
        raise Unavailable("no java runtime for Spark")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: int | None = None):
        self.name = workload
        self.spec = WORKLOADS[workload]
        self.size = size or self.spec["size"]
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = _cores()
        self.work = ROOT / ".perfbench_work" / f"{workload}-{seed}-{os.getpid()}"
        self.spark = None
        self.setup = {}
        self.job_gc_s = []  # driver JVM GC seconds of each timed job

    # ------------------------------------------------------------ session
    def _environment(self):
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.work / "local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
        )
        # keep every JVM's scratch files inside the checkout
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"

    def start(self):
        from rust_geo_booleanop_spark.plans import get_spark

        self._environment()
        t = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            master=f"local[{self.cores}]",
            extra_conf={
                "spark.driver.memory": DRIVER_HEAP,
                "spark.driver.extraJavaOptions": f"-Djava.net.preferIPv4Stack=true -Xms{DRIVER_HEAP}",
                "spark.local.dir": str(self.work / "local"),
                "spark.sql.warehouse.dir": str(self.work / "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.setup["session_s"] = time.perf_counter() - t

    def close(self):
        from probe import descendants

        if self.spark is not None:
            from pyspark import SparkContext

            gateway = SparkContext._gateway
            proc = getattr(gateway, "proc", None)
            try:
                self.spark.stop()
            finally:
                if proc is not None:
                    proc.stdin.close()  # the JVM exits on EOF
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait(timeout=10)
                # a later session in this process launches a fresh JVM
                SparkContext._gateway = None
                SparkContext._jvm = None
            self.spark = None
        deadline = time.monotonic() + 30
        while descendants(os.getpid()) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        shutil.rmtree(self.work, ignore_errors=True)

    # ------------------------------------------------------------ inputs
    def _generate(self):
        import gen

        if self.name == "sparse_crawl":
            return gen.sparse_crawl_pages(self.seed, self.size)
        return gen.flagship_pages(self.seed, self.size)

    def materialize(self):
        """Build the input table GEN_REPEATS times (the median is set-up
        time; identical bytes each time is the determinism check), write
        it as parquet, and for tile_clip run the flagship pipeline once to
        materialize the kernel result table."""
        times, tables = [], []
        for _ in range(GEN_REPEATS):
            t = time.perf_counter()
            table, exp = self._generate()
            times.append(time.perf_counter() - t)
            tables.append(table)
        if not all(t.equals(tables[0]) for t in tables[1:]):
            raise RuntimeError("generator is not deterministic for one seed")
        self.pages, self.exp = tables[0], exp
        self.setup["generate_s"] = _median(times)

        t = time.perf_counter()
        self._write_parquet(self.pages, "pages")
        self.setup["write_s"] = time.perf_counter() - t

        if self.spec["kind"] == "clip":
            t = time.perf_counter()
            # sorted: the kernel stage's shuffle output order varies from
            # run to run, and with it the clip stage's partitions
            results = self.page_stage("kernel").toArrow().sort_by(
                [("subject_url", "ascending"), ("op", "ascending")]
            )
            self._write_parquet(results, "results")
            self.setup["results_s"] = time.perf_counter() - t

    def _write_parquet(self, table, name: str):
        import pyarrow.parquet as pq

        out = self.work / name
        out.mkdir(parents=True)
        step = -(-table.num_rows // PARQUET_FILES)
        for i in range(PARQUET_FILES):
            pq.write_table(table.slice(i * step, step), out / f"part-{i:02d}.parquet")

    # ------------------------------------------------------------ plans
    def page_stage(self, upto: str, geoms=None):
        """The page pipeline up to and including `upto` (from `geoms`, the
        extraction output, when given)."""
        from pyspark.sql import functions as F
        from rust_geo_booleanop_spark.operators.boolean_join import apply_boolean_ops, pair_candidates
        from rust_geo_booleanop_spark.operators.extract import extract_geometries
        from rust_geo_booleanop_spark.operators.tiling import assign_tiles

        df = self.spark.read.parquet(str(self.work / "pages"))
        if upto == "scan":
            return df.select(F.sum(F.length("html")).alias("n"))
        df = extract_geometries(df) if geoms is None else geoms
        if upto == "extract":
            return df
        df = pair_candidates(df)
        if upto == "pairs":
            return df
        df = apply_boolean_ops(df)
        if upto == "kernel":
            return df
        return assign_tiles(df, FLAGSHIP_TILE_LEVEL)

    def clip_stage(self, upto: str):
        from pyspark.sql import functions as F
        from rust_geo_booleanop_spark.operators.tiling import assign_tiles, clip_to_tiles

        df = self.spark.read.parquet(str(self.work / "results"))
        if upto == "scan":
            return df.select(F.sum(F.length("result_json")).alias("n"))
        df = assign_tiles(df, TILE_CLIP_LEVEL)
        if upto == "tiles":
            return df
        return clip_to_tiles(df)

    @property
    def prefixes(self):
        if self.spec["kind"] == "clip":
            return ("scan", "tiles", "clip")
        return ("scan", "extract", "pairs", "kernel", "tiles")

    def stage(self, upto: str):
        return self.clip_stage(upto) if self.spec["kind"] == "clip" else self.page_stage(upto)

    def run_prefix(self, upto: str):
        df = self.stage(upto)
        if upto == "scan":
            return df.collect()[0]["n"] or 0
        return df.count()

    def full_job(self) -> int:
        return self.run_prefix(self.prefixes[-1])

    @property
    def input_rows(self) -> int:
        return len(self.results) if self.spec["kind"] == "clip" else self.pages.num_rows

    # ------------------------------------------------------------ verify
    def collect_outputs(self):
        """The first execution of the pipeline, collected for verification.
        It is the warm-up, so it is timed as set-up."""
        from pyspark.sql import functions as F

        if self.spec["kind"] == "clip":
            res = self.spark.read.parquet(str(self.work / "results"))
            self.results = res.toArrow().to_pylist()
            tiles = self.clip_stage("tiles").select(
                F.col("subject_url").alias("url"), "op", "tile_id"
            )
            self.tiles = [(r["url"], r["op"], r["tile_id"]) for r in tiles.toArrow().to_pylist()]
            self.clip_rows = self.clip_stage("clip").toArrow().to_pylist()
        else:
            geoms = self.page_stage("extract").cache()
            self.geoms = geoms.select("url", "text", "geom_json").toArrow()
            self.tiled = self.page_stage("tiles", geoms).toArrow().to_pylist()
            geoms.unpersist()

    def verify(self, job_counts):
        import check

        tally = check.Tally()
        if self.spec["kind"] == "clip":
            from rust_geo_booleanop_spark.kernel.pairs import resolve_pair_runner

            geom_by_key = {(r["subject_url"], r["op"]): r["result_json"] for r in self.results}
            check.check_clips(
                tally, self.tiles, self.clip_rows, geom_by_key, resolve_pair_runner(),
                self.seed, CLIP_ORACLE_ROWS,
            )
            expected_rows = len(self.tiles)
        else:
            check.check_extraction(tally, self.pages, self.geoms, self.exp)
            self.results = check.check_tiles(tally, self.tiled, FLAGSHIP_TILE_LEVEL)
            check.check_results(tally, self.results, self.exp, self.seed, ORACLE_PAIRS)
            expected_rows = len(self.tiled)
        # every timed job must count the verified number of output rows
        tally.add(
            "job.row_count", 0,
            max((abs(n - expected_rows) for n in job_counts), default=0),
        )
        return tally

    # ------------------------------------------------------------ timing
    @staticmethod
    def jobs_for(budget: float, job):
        """Run `job` at least once and then until the next run would end
        past `budget` seconds; returns its results and durations."""
        results, walls = [], []
        start = time.perf_counter()
        while not walls or time.perf_counter() - start + walls[-1] <= budget:
            t = time.perf_counter()
            results.append(job())
            walls.append(time.perf_counter() - t)
        return results, walls

    def timed_jobs(self, sampler, budget: float):
        walls, cpus, counts = [], [], []
        self.jobs_for(budget, lambda: self.timed_job(sampler, walls, cpus, counts))
        return walls, cpus, counts

    def timed_job(self, sampler, walls, cpus, counts):
        """One untraced full job: wall time, process-tree CPU, row count,
        JVM GC time."""
        from probe import jvm_gc_s, tree_cpu_s

        me = os.getpid()
        g0 = jvm_gc_s(self.spark)
        c0 = tree_cpu_s(me)
        with sampler.sampling():
            t = time.perf_counter()
            counts.append(self.full_job())
            walls.append(time.perf_counter() - t)
        cpus.append(tree_cpu_s(me) - c0)
        self.job_gc_s.append(jvm_gc_s(self.spark) - g0)

    def run(self):
        from probe import RssSampler

        self.start()
        self.materialize()
        t = time.perf_counter()
        self.collect_outputs()
        warm_counts, _ = self.jobs_for(WARMUP_SECONDS, self.full_job)
        self.setup["warmup_s"] = time.perf_counter() - t
        setup_s = sum(self.setup.values())

        with RssSampler(os.getpid()) as sampler:
            if self.trace:
                walls, cpus, counts, ledger_runs = self.traced_iterations(sampler)
            else:
                walls, cpus, counts = self.timed_jobs(sampler, self.seconds)
            peak = sampler.peak

        if self.trace:
            counts += [r[f"{self.prefixes[-1]}.value"] for r in ledger_runs]
        tally = self.verify(warm_counts + counts)
        wall = _median(walls)
        report = {
            "walls": walls,
            "end_to_end": {
                "wall_s": wall,
                "rows_per_s": self.input_rows / wall,
                "cpu_s": _median(cpus),
                "peak_rss_mb": peak / 2**20,
                "setup_s": setup_s,
            },
            "jvm_gc_s": _median(self.job_gc_s),
            "tally": tally,
        }
        if self.trace:
            report["per_layer"] = self.ledger(ledger_runs, tally)
        return report

    # ------------------------------------------------------------ ledger
    def traced_iterations(self, sampler):
        """Iterations of traced cumulative-prefix jobs (each prefix a span
        under its iteration span) until the run's seconds have passed, at
        least TRACE_ITERATIONS times. Each iteration also runs one untraced
        full job next to the traced one (the last prefix): before it on odd
        iterations, after it on even ones, so job order is not counted as
        tracing cost."""
        from probe import Spans, group_stage_metrics

        self.spans = Spans(f"{self.name}-{self.seed}")
        sc = self.spark.sparkContext
        last = self.prefixes[-1]
        walls, cpus, counts, runs = [], [], [], []
        start = time.perf_counter()
        i = 0
        while i < TRACE_ITERATIONS or time.perf_counter() - start + runs[-1]["iteration_s"] <= self.seconds:
            i += 1
            t = time.perf_counter()
            with self.spans.span("iteration", workload=self.name, n=i) as it:
                row = {}
                for upto in self.prefixes:
                    if upto == last and i % 2:
                        self.timed_job(sampler, walls, cpus, counts)
                    group = f"perfbench-{i}-{upto}"
                    sc.setJobGroup(group, group)
                    with self.spans.span(f"prefix.{upto}", parent=it["id"]) as sp:
                        value = self.run_prefix(upto)
                    sc.setJobGroup("perfbench-untraced", "")
                    row[upto] = sp["end"] - sp["start"]
                    row[f"{upto}.value"] = value
                    if upto == last and not i % 2:
                        self.timed_job(sampler, walls, cpus, counts)
                row["trace_cost_s"] = row[last] - walls[-1]
                row["shuffle_bytes"], row["gc_s"] = group_stage_metrics(
                    self.spark, f"perfbench-{i}-{last}"
                )
            row["iteration_s"] = time.perf_counter() - t
            runs.append(row)
        return walls, cpus, counts, runs

    def _core_kernel(self):
        """Single-core kernel over the workload's pairs, in this process."""
        from rust_geo_booleanop_spark.kernel import native
        from rust_geo_booleanop_spark.kernel.pairs import resolve_pair_runner

        from check import OPS

        run = resolve_pair_runner()
        pairs = [
            (self.exp.geom_json[s], self.exp.geom_json[c])
            for s, c in self.exp.cases.values() if s and c
        ]
        per_pair = []
        for s, c in pairs:
            t = time.perf_counter()
            run(s, c, OPS)
            per_pair.append(time.perf_counter() - t)
        t = time.perf_counter()
        for s, c in pairs:
            run(s, c, OPS[:1])
        one_op = time.perf_counter() - t
        native_ok = sum(
            native.pair_boolean_ops_native(s, c, OPS[:1]) is not None for s, c in pairs
        )
        return per_pair, one_op, native_ok / max(1, len(pairs))

    def _core_bbox(self) -> float:
        from rust_geo_booleanop_spark.kernel.pairs import resolve_bbox_fn

        bbox = resolve_bbox_fn()
        strings = self.geoms.column("geom_json").to_pylist()
        t = time.perf_counter()
        for g in strings:
            bbox(g)
        return time.perf_counter() - t

    def _core_clip(self):
        """Direct kernel clips of a seeded sample of (geometry, correct
        tile square) rows: (estimated single-core seconds for every tiled
        row, share of empty results)."""
        import random

        from rust_geo_booleanop_spark.kernel.pairs import resolve_pair_runner
        from rust_geo_booleanop_spark.operators.tiling import tile_square_json

        run = resolve_pair_runner()
        geom = {(r["subject_url"], r["op"]): r["result_json"] for r in self.results}
        tiled = [t for t in self.tiles if t[2] is not None]
        sample = random.Random(f"clip-core:{self.seed}").sample(tiled, min(CLIP_CORE_SAMPLE, len(tiled)))
        squares = {t[2]: tile_square_json(t[2]) for t in sample}
        empty = 0
        t0 = time.perf_counter()
        for url, op, tid in sample:
            (_, _, n, *_), = run(geom[(url, op)], squares[tid], ("intersection",))
            empty += n == 0
        spent = time.perf_counter() - t0
        return spent / max(1, len(sample)) * len(tiled), empty / max(1, len(sample))

    def ledger(self, runs, tally):
        import check

        med = {k: _median([r[k] for r in runs]) for k in runs[0]}
        cum = [med[p] for p in self.prefixes]
        self_s = dict(zip(self.prefixes, [cum[0]] + [b - a for a, b in zip(cum, cum[1:])]))
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        if self.spec["kind"] == "clip":
            m.update(dict.fromkeys(CLIP_METRICS, 0.0))
        m["plans.session_s"] = self.setup["session_s"]
        m["sources.scan_s"] = self_s["scan"]
        m["exchange.shuffle_write_bytes"] = med["shuffle_bytes"]
        m["exchange.gc_s"] = med["gc_s"]
        m["tiles.self_s"] = self_s["tiles"]
        m["tiles.untiled_rows"] = sum(1 for r in self.results if not check.has_bbox(r))
        # median over iterations of traced minus untraced full-job wall time
        m["trace.overhead_s"] = med["trace_cost_s"]
        m["verify.failed_share"] = tally.failed_share
        if self.spec["kind"] == "clip":
            m["tiles.rows_out"] = len(self.tiles)
            m["clip.self_s"] = self_s["clip"]
            m["clip.rows"] = len(self.clip_rows)
            m["clip.core_s"], m["clip.empty_share"] = self._core_clip()
            m["clip.wrong_rows"] = tally.findings.get("clip.tile_multiset", 0)
            return m
        m["sources.html_bytes"] = med["scan.value"]
        m["extract.self_s"] = self_s["extract"]
        m["extract.pages_in"] = self.pages.num_rows
        m["extract.geoms_out"] = self.geoms.num_rows
        m["extract.pages_dropped"] = self.pages.num_rows - self.geoms.num_rows
        m["extract.bbox_core_s"] = self._core_bbox()
        m["pairs.self_s"] = self_s["pairs"]
        m["pairs.rows"] = med["pairs.value"]
        per_pair, one_op, native_share = self._core_kernel()
        core = sum(per_pair)
        us = sorted(x * 1e6 for x in per_pair)
        q = statistics.quantiles(us, n=100) if len(us) > 1 else us * 99
        m["kernel.core_s"] = core
        m["kernel.pair_us_p50"] = q[49]
        m["kernel.pair_us_p99"] = q[98]
        m["kernel.op_cost_ratio"] = core / one_op if one_op else 0.0
        m["kernel.native_share"] = native_share
        m["kernel.limit_rows"] = sum(1 for r in self.results if r["status"] == "limit_exceeded")
        m["kernel.result_bytes"] = sum(len(r["result_json"]) for r in self.results)
        ks = self_s["kernel"]
        m["kernel_stage.self_s"] = ks
        m["kernel_stage.overhead_s"] = ks - core / self.cores
        m["kernel_stage.parallel_eff"] = core / (self.cores * ks) if ks > 0 else 0.0
        m["tiles.rows_out"] = med["tiles.value"]
        return m


# name -> unit of every end-to-end metric
END_TO_END = {
    "wall_s": "s",  # median wall time of the timed jobs
    "rows_per_s": "rows/s",  # input rows / wall_s
    "cpu_s": "s",  # median process-tree CPU seconds per job
    "peak_rss_mb": "MB",  # peak process-tree RSS during timed jobs
    "setup_s": "s",  # session + input generation (median) + writes + warm-up
}

# name -> unit of every per-layer metric of BENCHMARK.json (a workload
# without the layer reports 0)
LAYER_METRICS = {
    "plans.session_s": "s",
    "sources.scan_s": "s",
    "sources.html_bytes": "bytes",
    "extract.self_s": "s",
    "extract.pages_in": "count",
    "extract.geoms_out": "count",
    "extract.pages_dropped": "count",
    "extract.bbox_core_s": "s",
    "pairs.self_s": "s",
    "pairs.rows": "count",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.gc_s": "s",
    "kernel.core_s": "s",
    "kernel.pair_us_p50": "us",
    "kernel.pair_us_p99": "us",
    "kernel.op_cost_ratio": "ratio",
    "kernel.native_share": "ratio",
    "kernel.limit_rows": "count",
    "kernel.result_bytes": "bytes",
    "kernel_stage.self_s": "s",
    "kernel_stage.overhead_s": "s",
    "kernel_stage.parallel_eff": "ratio",
    "tiles.self_s": "s",
    "tiles.rows_out": "count",
    "tiles.untiled_rows": "count",
    "trace.overhead_s": "s",
    "verify.failed_share": "ratio",
}

# name -> unit of the per-layer metrics only tile_clip reports, besides
# LAYER_METRICS
CLIP_METRICS = {
    "clip.self_s": "s",
    "clip.rows": "count",
    "clip.core_s": "s",
    "clip.empty_share": "ratio",
    "clip.wrong_rows": "count",
}

UNITS = {**END_TO_END, **LAYER_METRICS, **CLIP_METRICS}


def result_line(report: dict, trace: bool) -> dict:
    tally = report["tally"]
    if trace:
        metrics = report["per_layer"]
    else:
        metrics = report["end_to_end"]
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(v), "unit": UNITS[k]} for k, v in metrics.items()},
    }


def print_report(bench: Bench, report: dict) -> None:
    walls = report["walls"]
    q = statistics.quantiles(walls, n=4) if len(walls) > 1 else walls * 3
    print(
        f"perfbench {bench.name} seed={bench.seed} local[{bench.cores}] "
        f"closed loop, 1 client: {len(walls)} timed jobs "
        f"(wall p25 {q[0]:.4f} s, median {q[1]:.4f} s, p75 {q[2]:.4f} s)"
    )
    for k, v in report["end_to_end"].items():
        print(f"  {k:<14} {v:>14.4f} {END_TO_END[k]}")
    print(f"  {'jvm_gc_s':<14} {report['jvm_gc_s']:>14.4f} s (median per job, driver heap {DRIVER_HEAP})")
    print("  setup: " + ", ".join(f"{k} {v:.3f} s" for k, v in bench.setup.items()))
    tally = report["tally"]
    print(f"  {'failed_share':<14} {tally.failed_share:>14.6f} ratio ({tally.failed} of {tally.attempted} rows)")
    for k, v in sorted(tally.findings.items()):
        print(f"    failed: {k} = {v}")
    if "per_layer" in report:
        for k, v in report["per_layer"].items():
            print(f"  {k:<30} {v:>16.6f} {UNITS[k]}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        _prerequisites()
    except Unavailable as e:
        print(f"perfbench: cannot run: {e}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(HERE))

    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        report = bench.run()
        if args.trace:
            path = ROOT / ".perfbench_work" / "spans" / f"{args.workload}-seed{args.seed}.jsonl"
            bench.spans.write(str(path))
            print(f"spans written to {path.relative_to(ROOT)}", file=sys.stderr)
    finally:
        bench.close()
    print_report(bench, report)
    print(json.dumps(result_line(report, bool(args.trace))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
