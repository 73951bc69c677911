"""Dump the formatted physical plans of registry queries, one file per plan,
each headed by its ``bench._plan_fingerprint`` so the plan SHAPE is
reviewable and diffable round-over-round against the bench JSON's
``plan_hash``.

Usage:
    python scripts/dump_plans.py SF_DIR OUT_DIR SUFFIX [NAME ...] [--writes]

NAMEs default to every bench=True query.  Each query runs twice and the
plan of the WARM second run is written post-collect to
OUT_DIR/<name>_<SUFFIX>.txt: bench.py hashes after min-of-3 iterations, so
its plan sees the query's own caches already materialized and AQE's final
re-optimized plan -- a cold first run plans TableCacheQueryStage /
BroadcastQueryStage wrappers differently and would spuriously disagree.

--writes captures the WRITE side instead (a sink query's returned frame is
the read-back side, so its explain never shows the write's pre-shuffle):
DataFrameWriter.parquet is intercepted and the plan of every frame passed
to it goes to OUT_DIR/<name>_write<N>_<SUFFIX>.txt before the real write.

Exits 1 if a NAME is not registered (checked before Spark starts), a query
raises, or --writes captures no write for a query.

This replaces three earlier dumpers; their invocations become:
    every bench plan into results/plans.txt (args: [SF_DIR])
        -> dump_plans.py SF_DIR results/plans current
    round-11 before/after plans (args: OUT SUF SF NAME ...)
        -> dump_plans.py SF OUT SUF NAME ...
    round-11 write-side plans (args: OUT SUF SF NAME ...)
        -> dump_plans.py SF OUT SUF NAME ... --writes
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyspark.sql.readwriter as rw

from bench import _plan_fingerprint  # single source of truth for hashing
from json_format_in_parquet_benchmark_spark.operators.dedup import release_caches
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.session import get_spark


def write_plan(df, path: str, title: str) -> None:
    """Write ``df``'s formatted plan to ``path`` under a fingerprint header."""
    plan = df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    with open(path, "w") as f:
        f.write(f"# {title}  plan_hash={_plan_fingerprint(df)}\n{plan}\n")
    print(f"wrote {path}", file=sys.stderr)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("out_dir")
    ap.add_argument("suffix")
    ap.add_argument("names", nargs="*")
    ap.add_argument("--writes", action="store_true",
                    help="capture the plans passed to DataFrameWriter.parquet")
    args = ap.parse_args()
    names = args.names or sorted(n for n, q in REGISTRY.items() if q.bench)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"ERROR not in registry: {' '.join(unknown)}", file=sys.stderr)
        return 1
    os.makedirs(args.out_dir, exist_ok=True)

    current = {"name": "", "n": 0}
    real_parquet = rw.DataFrameWriter.parquet

    def capturing_parquet(self, path, *a, **kw):
        current["n"] += 1
        name, n = current["name"], current["n"]
        write_plan(
            self._df,
            os.path.join(args.out_dir, f"{name}_write{n}_{args.suffix}.txt"),
            f"{name} -- write #{n} to {path} ({args.suffix})",
        )
        return real_parquet(self, path, *a, **kw)

    if args.writes:
        rw.DataFrameWriter.parquet = capturing_parquet
    spark = get_spark(app_name="jfipb-plans")
    failed = False
    for name in names:
        q = REGISTRY[name]
        current["name"], current["n"] = name, 0
        try:
            q.fn(spark, args.sf_dir).collect()
            if not args.writes:
                df = q.fn(spark, args.sf_dir)
                df.collect()
                write_plan(
                    df,
                    os.path.join(args.out_dir, f"{name}_{args.suffix}.txt"),
                    f"{name}  ({args.suffix}, sf_dir={args.sf_dir})",
                )
        except Exception as exc:
            print(f"ERROR {name}: {exc}", file=sys.stderr)
            failed = True
        # Only DataFrameWriter.parquet is intercepted: a query writing via
        # .save()/.saveAsTable()/another format would leave a silent hole.
        if args.writes and current["n"] == 0:
            print(f"ERROR {name}: no DataFrameWriter.parquet write captured",
                  file=sys.stderr)
            failed = True
        release_caches()
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
