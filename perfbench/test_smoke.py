"""Smoke test of the benchmark at a tiny size.

    python3 -m pytest perfbench/test_smoke.py -q

Checks that every metric named in BENCHMARK.json is printed with its unit,
that the output checks catch a corrupted result, that an op that raises is
counted as failed, and that the command fails without the engine.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import workload  # noqa: E402
from tracer import Span, parse_sql_metric, self_times  # noqa: E402

SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
TINY = workload.Sizes(rows=200, store_rounds=1, path_rounds=1, analytics_rounds=1)
# two cheap headliners keep the query round short
QUERIES = {"q3_shipping_priority": "relational", "stream_sessionize_batch": "streaming"}


@pytest.fixture(scope="module")
def work(tmp_path_factory):
    return tmp_path_factory.mktemp("perfbench")


@pytest.fixture(scope="module")
def bench(work):
    b = workload.Bench(work, 0.1, seed=7, sizes=TINY, trace=False)
    b.start_session()
    b.setup_data()
    b.expected_values()
    yield b
    b.stop()


def _run(work, trace: bool, monkeypatch) -> dict:
    monkeypatch.setattr(workload, "ANALYTICS_QUERIES", QUERIES)
    return workload.Bench(work, 0.1, seed=7, sizes=TINY, trace=trace).run()


@pytest.mark.parametrize("trace,section", [(False, "end_to_end"), (True, "per_layer")])
def test_every_metric_is_printed_with_its_unit(bench, work, trace, section, monkeypatch):
    result = _run(work, trace, monkeypatch)
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] == 5 + 10 + len(QUERIES)
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {name: m["unit"] for name, m in result["metrics"].items()}
    assert got == want
    json.dumps(result, allow_nan=False)
    if section == "end_to_end":
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_corrupted_store_result_is_caught(bench, monkeypatch):
    fmt_cls = workload.get_format("plain_json").__class__
    decode = fmt_cls.decode

    def corrupt(self, encoded):
        return decode(self, encoded).selectExpr("replace(doc, 'ev_', 'ex_') as doc")

    monkeypatch.setattr(fmt_cls, "decode", corrupt)
    bench.store_rounds.append([])
    before = bench.failed
    bench.guarded("store.plain_json", bench.store_op, "plain_json")
    assert bench.failed == before + 1


def test_corrupted_query_result_is_caught(bench, monkeypatch):
    query = workload.REGISTRY["q3_shipping_priority"]
    build = query.fn
    monkeypatch.setattr(query, "fn", lambda spark, sf_dir: build(spark, sf_dir).limit(1))
    bench.query_rounds.append([])
    bench.results.clear()
    bench.guarded("query.q3_shipping_priority", bench.query_op, "q3_shipping_priority")
    before = bench.failed
    bench.check_queries()
    assert bench.failed == before + 1


def test_raised_op_is_counted_as_failed(bench, monkeypatch):
    def boom(spark, sf_dir):
        raise FileNotFoundError("missing input")

    monkeypatch.setattr(workload.REGISTRY["q3_shipping_priority"], "fn", boom)
    bench.query_rounds.append([])
    attempted, failed = bench.attempted, bench.failed
    bench.guarded("query.q3_shipping_priority", bench.query_op, "q3_shipping_priority")
    assert (bench.attempted, bench.failed) == (attempted + 1, failed + 1)


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, *SPEC["command"][1:], "--workload", "ndv_0.1", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""


def test_parse_sql_metric():
    assert parse_sql_metric("2.6 MiB") == pytest.approx(2.6 * 2**20)
    assert parse_sql_metric("total (min, med, max (stageId: taskId))\n5.9 s (1.3 s, 1.4 s)") == 5.9
    assert parse_sql_metric("607 ms") == pytest.approx(0.607)
    assert parse_sql_metric("1,234") == 1234


def test_self_time_excludes_children_and_overhead():
    root = Span(1, None, 1, "op", "benchmark", start=0.0, end=10.0, overhead=0.5)
    a = Span(2, 1, 1, "a", "formats", start=1.0, end=4.0, overhead=0.2)
    b = Span(3, 1, 1, "b", "spark", start=5.0, end=9.0)
    got = self_times([a, b, root])
    assert got == pytest.approx({1: 10 - 3 - 4 - 0.5, 2: 2.8, 3: 4.0})
