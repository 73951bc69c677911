"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash -> CORRECTNESS_r{N}.json).

All real logic lives in the ``json_format_in_parquet_benchmark_spark``
package; this module only adapts its query registry to the driver contract,
and is the one place the order of ``queries()`` is decided: evidence age,
computed from the committed ``CORRECTNESS_r*.json`` files beside it.
"""

from __future__ import annotations

import json
import os
import re
import sys
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from json_format_in_parquet_benchmark_spark.plans import REGISTRY  # noqa: E402
from json_format_in_parquet_benchmark_spark.tables import SMOKE_SF_DIR  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return REGISTRY["flagship_events_enriched"].fn(spark, SMOKE_SF_DIR)


def last_green_rounds(evidence_dir: str) -> dict[str, int]:
    """Latest round N in which each name was green in a CORRECTNESS_rN.json
    under ``evidence_dir``: rows, schema and hash all matched and no error."""
    last: dict[str, int] = {}
    for fname in os.listdir(evidence_dir):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m is None:
            continue
        with open(os.path.join(evidence_dir, fname)) as f:
            rows = json.load(f)
        for name, row in rows.items():
            green = row.get("err") is None and all(
                row.get(k) is True
                for k in ("rows_match", "schema_match", "hash_match")
            )
            if green:
                last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def evidence_order(names: Iterable[str], evidence_dir: str) -> list[str]:
    """Least-recently verified first: the driver cross-checks only the first
    50 queries it is given, so names never green sort first, then by the
    round they were last green; ties keep the given order."""
    last = last_green_rounds(evidence_dir)
    return sorted(names, key=lambda n: last.get(n, 0))


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registered query, in evidence order (:func:`evidence_order`)."""
    return {n: REGISTRY[n].fn for n in evidence_order(REGISTRY, _HERE)}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every SQL-expressible query."""
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
