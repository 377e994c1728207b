"""Output verification. Runs outside the timed region and never aborts:
every mismatch is counted as a failed row in a `Tally`.

Failed means: status other than the expected one, an oracle mismatch, or a
row missing from (or extra to) a conservation identity.
"""

from __future__ import annotations

import math
import random
from collections import Counter
from dataclasses import dataclass, field

from rust_geo_booleanop_spark.functions.cells import bbox_cover_cells
from rust_geo_booleanop_spark.kernel.pairs import pair_boolean_ops_python
from rust_geo_booleanop_spark.operators.boolean_join import DEFAULT_OPS
from rust_geo_booleanop_spark.operators.tiling import tile_square_json

OPS = tuple(DEFAULT_OPS)


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0
    findings: dict = field(default_factory=dict)

    def add(self, name: str, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed
        if failed:
            self.findings[name] = self.findings.get(name, 0) + failed

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def _multiset_gap(expected: Counter, got: Counter) -> int:
    """Rows that break `expected == got`: a wrong row is both missing and
    extra, so it counts once."""
    return max(sum((expected - got).values()), sum((got - expected).values()))


def _no_value(x) -> bool:
    # the kernel's NaN bbox of an empty result arrives from Spark as NULL
    return x is None or math.isnan(x)


def _same_float(a, b) -> bool:
    return a == b or (_no_value(a) and _no_value(b))


def has_bbox(row) -> bool:
    return not any(_no_value(row[k]) for k in ("xmin", "ymin", "xmax", "ymax"))


def check_extraction(tally: Tally, pages, geoms, exp) -> None:
    """pages in = geometries + dropped, with the dropped count equal to the
    generator's geometry-free + dirty pages, and `text` byte-identical per
    url through extraction. `pages` and `geoms` are Arrow tables."""
    page_text = dict(zip(pages.column("url").to_pylist(), pages.column("text").to_pylist()))
    urls = geoms.column("url").to_pylist()
    texts = geoms.column("text").to_pylist()
    gap = _multiset_gap(Counter(exp.geom_json.keys()), Counter(urls))
    dropped = len(page_text) - len(urls)
    tally.add("extract.conservation", exp.pages, max(gap, abs(dropped - exp.dropped)))
    bad_text = sum(
        1 for u, t in zip(urls, texts) if u in exp.geom_json and t != page_text.get(u)
    )
    tally.add("extract.text_identity", 0, bad_text)


def result_key(row) -> tuple:
    return (row["case_id"], row["subject_url"], row["clipping_url"], row["op"])


def check_results(tally: Tally, results: list, exp, seed: int, oracle_pairs: int) -> None:
    """result rows = 4 x pairs, every status `ok`, and a seeded sample of
    pairs byte-identical to the pure-Python reference composition.
    `results` is a list of row dicts."""
    expected = Counter(
        (case_id, s, c, op) for case_id, (s, c) in exp.cases.items() if s and c for op in OPS
    )
    got = Counter(result_key(r) for r in results)
    gap = _multiset_gap(expected, got)
    tally.add("kernel.conservation", sum(expected.values()), gap)
    tally.add("kernel.status", 0, sum(1 for r in results if r["status"] != "ok"))

    by_key = {result_key(r): r for r in results}
    cases = sorted(k for k, (s, c) in exp.cases.items() if s and c)
    rng = random.Random(f"oracle:{seed}")
    mismatched = 0
    for case_id in rng.sample(cases, min(oracle_pairs, len(cases))):
        s, c = exp.cases[case_id]
        want = pair_boolean_ops_python(exp.geom_json[s], exp.geom_json[c], OPS)
        for op, gj, n, x0, y0, x1, y1, status in want:
            r = by_key.get((case_id, s, c, op))
            if r is None:
                continue  # already counted by the conservation identity
            same = (
                r["result_json"] == gj
                and r["n_polys"] == n
                and r["status"] == status
                and all(_same_float(r[k], v) for k, v in zip(("xmin", "ymin", "xmax", "ymax"), (x0, y0, x1, y1)))
            )
            mismatched += not same
    tally.add("kernel.oracle", 0, mismatched)


def check_tiles(tally: Tally, tiled: list, level: int) -> list:
    """assign_tiles emits, per kernel result row, one row per tile its bbox
    covers, or one NULL-tile row when it has no bbox. Returns the kernel
    result rows (the tiled rows without `tile_id`)."""
    groups: dict = {}
    for r in tiled:
        groups.setdefault(result_key(r), []).append(r)
    results, gap = [], 0
    for rows in groups.values():
        r = {k: v for k, v in rows[0].items() if k != "tile_id"}
        cover = bbox_cover_cells(r["xmin"], r["ymin"], r["xmax"], r["ymax"], level) if has_bbox(r) else []
        gap += _multiset_gap(Counter(cover or [None]), Counter(x["tile_id"] for x in rows))
        results.append(r)
    tally.add("tiles.cover", len(tiled), gap)
    return results


def check_clips(tally: Tally, tiles: list, clips: list, geom_by_key: dict, pair_run, seed: int, sample: int) -> None:
    """The clip output's (url, op, tile_id) multiset equals assign_tiles',
    untiled rows pass through as `untiled`, and a seeded sample of
    clipped_json equals a direct kernel call on that row's tile square.
    `tiles` holds (url, op, tile_id) tuples, `clips` row dicts."""
    expected = Counter(tiles)
    got = Counter((r["url"], r["op"], r["tile_id"]) for r in clips)
    tally.add("clip.tile_multiset", len(tiles), _multiset_gap(expected, got))
    bad_status = sum(
        1 for r in clips if r["status"] != ("untiled" if r["tile_id"] is None else "ok")
    )
    tally.add("clip.status", 0, bad_status)

    # sample only rows the multiset identity did not already count as wrong
    candidates = [
        r for r in clips
        if r["tile_id"] is not None and r["status"] == "ok"
        and got[(r["url"], r["op"], r["tile_id"])] <= expected[(r["url"], r["op"], r["tile_id"])]
    ]
    rng = random.Random(f"clip-oracle:{seed}")
    mismatched = 0
    for r in rng.sample(candidates, min(sample, len(candidates))):
        geom = geom_by_key[(r["url"], r["op"])]
        (_, gj, n, *_), = pair_run(geom, tile_square_json(r["tile_id"]), ("intersection",))
        mismatched += gj != r["clipped_json"] or n != r["n_polys"]
    tally.add("clip.oracle", 0, mismatched)
