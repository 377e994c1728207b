"""Tests of the benchmark itself. From the checkout root:

    python3 -m pytest perfbench -q -p no:cacheprovider

The engine runs (one Spark session each) use tiny tables.
"""

from __future__ import annotations

import json
import math
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
from rust_geo_booleanop_spark.functions.cells import bbox_cover_cells  # noqa: E402
from rust_geo_booleanop_spark.kernel.pairs import resolve_pair_runner  # noqa: E402
from rust_geo_booleanop_spark.operators.tiling import tile_square_json  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
# tile_clip needs base cases of template kind 5 (touching boxes): their
# empty intersections are the untiled rows the clip stage must pass through
TINY = {"flagship": 24, "sparse_crawl": 3000, "tile_clip": 64}


def test_metric_names_and_units_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_METRICS
    for w in spec["workloads"]:
        assert w["why"] == run.WORKLOADS[w["name"]]["why"]
    for name in [*run.END_TO_END, *run.LAYER_METRICS, *run.CLIP_METRICS, *run.WORKLOADS]:
        assert NAME.fullmatch(name), name


def test_result_line_carries_exactly_the_declared_metrics():
    tally = check.Tally()
    tally.add("x", 10, 0)
    report = {
        "end_to_end": dict.fromkeys(run.END_TO_END, 1.5),
        "per_layer": dict.fromkeys(run.LAYER_METRICS, 0.0),
        "tally": tally,
    }
    for trace, names in ((False, run.END_TO_END), (True, run.LAYER_METRICS)):
        line = run.result_line(report, trace)
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert set(line["metrics"]) == set(names)
        assert line["correct"] and line["attempted"] == 10 and line["failed"] == 0


@pytest.mark.parametrize(
    "make, size", [(gen.flagship_pages, 40), (gen.sparse_crawl_pages, 2000)]
)
def test_generators_are_deterministic_per_seed(make, size):
    a, exp_a = make(7, size)
    b, exp_b = make(7, size)
    c, _ = make(8, size)
    assert a.equals(b) and exp_a == exp_b
    assert not a.equals(c)


def test_sparse_crawl_accounts_for_every_page():
    table, exp = gen.sparse_crawl_pages(3, 4000)
    assert table.num_rows == exp.pages == exp.geometry_pages + exp.dropped
    assert exp.geometry_pages == 2 * exp.pairs == len(exp.geom_json)
    assert exp.dirty == len(exp.dirty_kinds) > 0
    assert set(exp.dirty_kinds.values()) == set(gen.DIRTY_KINDS)


def _kernel_rows(exp):
    """The rows the kernel stage emits for every pair, as Spark returns
    them (an empty result's NaN bbox arrives as NULL)."""
    pair_run = resolve_pair_runner()
    rows = []
    for case_id, (s, c) in exp.cases.items():
        for op, gj, n, x0, y0, x1, y1, status in pair_run(exp.geom_json[s], exp.geom_json[c], check.OPS):
            bbox = [None if math.isnan(v) else v for v in (x0, y0, x1, y1)]
            rows.append(
                dict(zip(
                    ("case_id", "subject_url", "clipping_url", "op", "result_json",
                     "n_polys", "xmin", "ymin", "xmax", "ymax", "status"),
                    (case_id, s, c, op, gj, n, *bbox, status),
                ))
            )
    return rows


def test_planted_result_byte_is_counted():
    _, exp = gen.flagship_pages(3, 16)
    rows = _kernel_rows(exp)
    clean = check.Tally()
    check.check_results(clean, rows, exp, seed=3, oracle_pairs=len(exp.cases))
    assert clean.failed == 0 and clean.attempted == 4 * len(exp.cases)

    victim = next(r for r in rows if r["n_polys"])
    i = next(i for i, ch in enumerate(victim["result_json"]) if ch.isdigit())
    digit = "1" if victim["result_json"][i] != "1" else "2"
    victim["result_json"] = victim["result_json"][:i] + digit + victim["result_json"][i + 1 :]
    planted = check.Tally()
    check.check_results(planted, rows, exp, seed=3, oracle_pairs=len(exp.cases))
    assert planted.failed == 1 and planted.findings == {"kernel.oracle": 1}
    assert planted.failed_share == 1 / planted.attempted


def test_planted_tile_id_is_counted():
    _, exp = gen.flagship_pages(4, 8)
    rows = _kernel_rows(exp)
    level = run.TILE_CLIP_LEVEL
    tiles = []
    for r in rows:
        cells = bbox_cover_cells(r["xmin"], r["ymin"], r["xmax"], r["ymax"], level) if check.has_bbox(r) else []
        tiles += [(r["subject_url"], r["op"], t) for t in cells or [None]]
    geom = {(r["subject_url"], r["op"]): r["result_json"] for r in rows}
    pair_run = resolve_pair_runner()
    clips = []
    for url, op, tid in tiles:
        if tid is None:
            clips.append(dict(tile_id=None, url=url, op=op, clipped_json="", n_polys=0, status="untiled"))
            continue
        (_, gj, n, *_), = pair_run(geom[(url, op)], tile_square_json(tid), ("intersection",))
        clips.append(dict(tile_id=tid, url=url, op=op, clipped_json=gj, n_polys=n, status="ok"))
    clean = check.Tally()
    check.check_clips(clean, tiles, clips, geom, pair_run, seed=4, sample=len(clips))
    assert clean.failed == 0 and clean.attempted == len(tiles)

    victim = next(c for c in clips if c["tile_id"] is not None)
    victim["tile_id"] += 1
    planted = check.Tally()
    check.check_clips(planted, tiles, clips, geom, pair_run, seed=4, sample=len(clips))
    assert planted.failed == 1 and planted.findings == {"clip.tile_multiset": 1}


def _tiny_run(workload):
    bench = run.Bench(workload, seed=5, seconds=0, trace=False, size=TINY[workload])
    try:
        return bench.run()
    finally:
        bench.close()


@pytest.mark.parametrize("workload", ["flagship", "sparse_crawl"])
def test_workload_verifies_at_tiny_size(workload):
    report = _tiny_run(workload)
    tally = report["tally"]
    assert tally.attempted > 0
    assert tally.failed == 0, tally.findings
    assert all(v > 0 for v in report["end_to_end"].values())


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="operators/tiling.py _clip_batches reads tile_id through pandas; a batch "
    "holding an untiled (NULL) row makes it float64 and rounds the cell id",
)
def test_tile_clip_verifies_at_tiny_size():
    report = _tiny_run("tile_clip")
    tally = report["tally"]
    if tally.attempted == 0 or set(tally.findings) - {"clip.tile_multiset"}:
        pytest.fail(f"unexpected verification result: {tally}")
    assert tally.failed == 0, tally.findings


def test_stops_with_a_reason_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(HERE, tmp_path / HERE.name, ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, f"{HERE.name}/run.py", "--workload", "flagship",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert "cannot run" in proc.stderr and "Traceback" not in proc.stderr
