"""bench.py's op table: every benchmarked op is a contract callable."""

import math

import bench

import __spark_entry__ as entry


def test_ops_name_contract_queries():
    qs = {**entry.queries(), **entry.STAGED_QUERIES}
    missing = [query for _, query, _ in bench.OPS if query not in qs]
    assert not missing, missing


def test_ops_table_shape():
    names = [name for name, _, _ in bench.OPS]
    queries = [query for _, query, _ in bench.OPS]
    assert len(bench.OPS) == 62
    assert len(set(names)) == len(names)
    assert len(set(queries)) == len(queries)
    assert "flagship_boolean_tiling" not in names
    assert all(band > 0 for _, _, band in bench.OPS)


def test_sentinel_needs_no_reference_fixtures(monkeypatch):
    from rust_geo_booleanop_spark.kernel import bench_cases

    monkeypatch.setattr(bench_cases, "REFERENCE_FIXTURES", "/nonexistent/fixtures")
    s = bench.sentinel_s()
    assert isinstance(s, float) and math.isfinite(s) and s > 0
