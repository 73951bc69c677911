"""Layered benchmark of the JSON-in-Parquet engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload ndv_0.1 --seed 1 --seconds 30 --trace 0

Prints, as the last line of standard output, one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, and the spans go to ``.perfbench_out/``.  Exits with a
non-zero code, printing no result, when the engine cannot be imported.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def isolate(work: Path) -> None:
    """Keep every scratch file of the run (Python's and the JVM's temp
    files, Spark's local dirs) under ``work`` inside the checkout."""
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import workload
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in workload.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workload.WORKLOADS)}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work"
    isolate(work)
    bench = workload.Bench(
        work,
        workload.WORKLOADS[args.workload],
        args.seed,
        workload.Sizes.for_seconds(args.seconds),
        trace=bool(args.trace),
    )
    try:
        result = bench.run()
    finally:
        bench.stop()
        bench.log("stop")
    if args.trace:
        out = ROOT / ".perfbench_out"
        out.mkdir(exist_ok=True)
        bench.tracer.write(out / f"spans_{args.workload}_seed{args.seed}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
