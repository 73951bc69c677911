"""Replicates the driver's correctness gate locally: every registered query
with an oracle must match the DuckDB result exactly (columns, row count,
order-insensitive values) at the test scale factor."""

from __future__ import annotations

import pytest

from json_format_in_parquet_benchmark_spark.plans import REGISTRY

from conftest import assert_oracle_match

ORACLED = sorted(name for name, q in REGISTRY.items() if q.oracle is not None)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    rel = duck.sql(q.oracle)
    assert_oracle_match(sdf, rel, name=name)


def test_every_query_returns_rows(spark, sf_dir):
    empties = []
    for name, q in REGISTRY.items():
        n = q.fn(spark, sf_dir).count()
        if n == 0:
            empties.append(name)
    # Empty results still hash-match the oracle, but a query that returns
    # nothing proves little -- keep the registry honest.
    assert not empties, f"queries with 0 rows at {sf_dir}: {empties}"


def test_bench_queries_return_rows_at_bench_sf(spark):
    """Non-degeneracy at the BENCH scale factor, not just the gate SF.

    Round-6 lesson (text_tf_cosine_pairs): an absolute parameter can
    keep a query green at sf0.01 while silently emptying it at sf0.1 --
    the exact opposite of a scale claim.  Every bench-tagged headliner
    must return rows at the SF the driver benches at."""
    import os

    bench_sf = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if not os.path.isdir(bench_sf):
        pytest.skip(f"bench SF dir missing: {bench_sf}")
    empties = []
    for name, q in REGISTRY.items():
        if not q.bench:
            continue
        if q.fn(spark, bench_sf).count() == 0:
            empties.append(name)
    assert not empties, f"bench queries with 0 rows at {bench_sf}: {empties}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())


def test_queries_follow_evidence_order():
    import os

    import __spark_entry__ as e

    names = list(e.queries())
    assert len(names) == len(REGISTRY) == 294
    assert set(names) == set(REGISTRY)
    assert e.oracle_sql() == {
        n: q.oracle for n, q in REGISTRY.items() if q.oracle is not None
    }
    last = e.last_green_rounds(os.path.dirname(e.__file__))
    rounds = [last.get(n, 0) for n in names]
    assert rounds == sorted(rounds)


def test_evidence_order_rule(tmp_path):
    import json

    import __spark_entry__ as e

    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "spark_rows": 1, "oracle_rows": 1, "err": None}
    failed = dict(green, hash_match=False)
    names = ["a", "b", "c", "d", "e"]
    assert e.evidence_order(names, str(tmp_path)) == names

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": green, "b": green, "c": failed})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"b": green, "d": dict(green, err="boom")})
    )
    (tmp_path / "CORRECTNESS_r02_notes.json").write_text("not evidence")
    # c's only entry failed and d's errored: they sort with never-verified e
    assert e.evidence_order(names, str(tmp_path)) == ["c", "d", "e", "a", "b"]

    (tmp_path / "CORRECTNESS_r03.json").write_text(json.dumps({"c": green}))
    assert e.evidence_order(names, str(tmp_path)) == ["d", "e", "a", "b", "c"]
