"""Pairwise boolean operations as a Spark operator.

Relational shell: subjects ⋈ clippings on case_id (one shuffle; AQE handles
skew and coalescing), then the Martinez-Rueda kernel runs over Arrow
record batches via mapInArrow — thousands of geometry pairs per Python
worker call through `kernel.pairs.run_pairs`, never per-row Python UDFs.

Reference semantics: the four ops of lib/src/boolean/mod.rs:21-50, with
diff_ba = diff with swapped operands (tests/src/helper.rs:35-43).
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel.pairs import run_pairs

DEFAULT_OPS = ("intersection", "union", "diff", "xor")

BOOLEAN_RESULTS_SCHEMA = (
    "case_id long, subject_url string, clipping_url string, op string, "
    "result_json string, n_polys int, "
    "xmin double, ymin double, xmax double, ymax double, status string"
)


def pair_candidates(geoms: DataFrame, max_side: int = 10_000) -> DataFrame:
    """Form (subject, clipping) candidate pairs per case from ONE pass.

    Changed in round 3: the previous shape self-joined a subject branch
    and a clipping branch of the SAME extraction output, so Catalyst
    planned the documents scan + extraction mapInPandas TWICE — at 100 TB
    that doubles the most expensive scan+parse stage. Now a single scan
    feeds one shuffle on case_id (column-pruned to key + url + geom_json),
    and the subject x clipping cross product per case comes from exploding
    the two collected sides — the identical pair set the equi-join
    produced, at half the scan cost and the same one shuffle.

    Bound (guarded since round 4): a case with S subjects and C clippings
    holds S+C geometries in one aggregation row before exploding to S*C
    pairs; for the web-page corpus (one subject + one clipping per case
    URL) this is 2. A hot case key exceeding `max_side` on either side
    raises an actionable error in-plan (before the S*C explode multiplies
    the blow-up) instead of silently risking an executor OOM — such a
    corpus should use `pair_candidates_salted`, which streams the cross
    product through a salted equi-join and never materializes a case's
    geometry list in one row.
    """
    s = F.when(
        F.col("role") == "subject", F.struct(F.col("url"), F.col("geom_json"))
    )
    c = F.when(
        F.col("role") == "clipping", F.struct(F.col("url"), F.col("geom_json"))
    )
    grouped = (
        geoms.select("case_id", s.alias("s"), c.alias("c"))
        .groupBy("case_id")
        # collect_list skips NULLs: non-subject rows vanish from subs,
        # non-clipping rows from clips; a case missing either side ends
        # with an empty list and is dropped by the explode (inner-join
        # semantics preserved)
        .agg(F.collect_list("s").alias("subs"), F.collect_list("c").alias("clips"))
    )
    # Skew valve: fail fast with a routing hint on a pathologically hot
    # case key. assert_true is wrapped into the projected column (not a
    # free-standing select item) so column pruning cannot drop it.
    within = (F.size("subs") <= max_side) & (F.size("clips") <= max_side)
    guard_msg = F.concat(
        F.lit("pair_candidates: case_id "),
        F.col("case_id").cast("string"),
        F.lit(" has "),
        F.size("subs").cast("string"),
        F.lit(" subjects x "),
        F.size("clips").cast("string"),
        F.lit(
            f" clippings (max_side={max_side}); hot case keys need the "
            "salted streaming shape - use pair_candidates_salted()"
        ),
    )
    guarded_subs = F.when(F.assert_true(within, guard_msg).isNull(), F.col("subs"))
    return (
        grouped.select("case_id", F.explode(guarded_subs).alias("s"), "clips")
        .select("case_id", "s", F.explode("clips").alias("c"))
        .select(
            "case_id",
            F.col("s.url").alias("subject_url"),
            F.col("s.geom_json").alias("subject_json"),
            F.col("c.url").alias("clipping_url"),
            F.col("c.geom_json").alias("clipping_json"),
        )
    )


def pair_candidates_salted(
    geoms: DataFrame, threshold: int = 1_000, factor: int = 16
) -> DataFrame:
    """Hot-case-safe pair formation: salted equi-join instead of collect_list.

    For corpora whose case keys can be pathologically hot (one case with
    thousands of subjects/clippings), the collect_list shape of
    `pair_candidates` would hold S+C geometries in ONE aggregation row.
    This shape instead equi-joins a subject branch against a clipping
    branch on (case_id, salt) (operators/skew.py): cases past `threshold`
    subjects fan their subject rows across `factor` salts and replicate
    clipping rows per salt, so a hot case's S*C pairs stream through
    `factor` reducers with no single-row aggregation state at all.

    Tradeoff vs `pair_candidates`: Catalyst plans the extraction lineage
    twice (both branches) — at 100 TB materialize the extraction output
    first (checkpointed parquet; sources/checkpoint.py) so both branches
    re-read columnar geometry rows rather than re-parsing pages. Pair set
    is identical (tests/test_spark_pipeline.py pins equality).
    """
    from .skew import salted_join

    subjects = geoms.filter(F.col("role") == "subject").select(
        "case_id",
        F.col("url").alias("subject_url"),
        F.col("geom_json").alias("subject_json"),
    )
    clippings = geoms.filter(F.col("role") == "clipping").select(
        "case_id",
        F.col("url").alias("clipping_url"),
        F.col("geom_json").alias("clipping_json"),
    )
    joined = salted_join(
        subjects,
        clippings,
        key="case_id",
        threshold=threshold,
        factor=factor,
        hash_col="subject_url",
    )
    return joined.select(
        "case_id", "subject_url", "subject_json", "clipping_url", "clipping_json"
    )


def kernel_result_batch(pairs: pa.RecordBatch, ops: Sequence[str]) -> pa.RecordBatch:
    """(case_id, *_url, *_json) pairs -> BOOLEAN_RESULTS_SCHEMA rows, one
    per (pair, op), pair-major. The single marshalling definition shared by
    the batch kernel stage below and the streaming pair completion
    (streaming/boolean.py), so the two paths cannot diverge."""
    results = run_pairs(
        pairs.column("subject_json").to_pylist(),
        pairs.column("clipping_json").to_pylist(),
        ops,
    )
    keys = pairs.select(["case_id", "subject_url", "clipping_url"]).take(
        np.repeat(np.arange(pairs.num_rows), len(ops))
    )
    return pa.RecordBatch.from_arrays(
        keys.columns + results.columns,
        names=keys.schema.names + results.schema.names,
    )


def apply_boolean_ops(pairs: DataFrame, ops: Sequence[str] = DEFAULT_OPS) -> DataFrame:
    """(case_id, *_url, *_json) pairs -> one result row per (pair, op)."""
    from .spatial_join import ensure_parallelism

    # Round-robin the pairs across the cluster before the kernel stage.
    # This is load-bearing: upstream joins of small/broadcastable inputs
    # produce NO shuffle, so the pair table inherits the file scan's
    # partitioning — a single-file source would silently serialize the
    # (CPU-dominant) kernel onto one core. The extra shuffle moves only
    # the small pair rows; kernel cost per row dwarfs it.
    pairs = ensure_parallelism(pairs)
    ops = tuple(ops)

    def kernel_batches(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield kernel_result_batch(batch, ops)

    return pairs.select(
        "case_id", "subject_url", "clipping_url", "subject_json", "clipping_json"
    ).mapInArrow(kernel_batches, schema=BOOLEAN_RESULTS_SCHEMA)


def boolean_pipeline(geoms: DataFrame, ops: Sequence[str] = DEFAULT_OPS) -> DataFrame:
    return apply_boolean_ops(pair_candidates(geoms), ops)
