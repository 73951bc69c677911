"""One benchmark run: set-up, the measured ops, output checks, metrics.

Every run, whatever its workload, goes through the engine's three layers
with three kinds of op, because every workload reports every end-to-end
metric:

- store: an events NDJSON corpus through ``read_ndjson_raw`` -> ``encode``
  -> ``flush`` (ZSTD level 1, 4 MiB pages) -> ``load`` -> ``decode`` ->
  consume, one op per format;
- path:  an aggregate JSON-path query on the corpus stored in one of the
  five formats, alternating a top-level and a nested path;
- query: a registry headliner on the tables in ``data/sf0.001``, run cold
  (right after ``release_caches``) and then warm.

The workloads differ in the corpus' NDV fraction (see ``WORKLOADS``), which
drives the dictionary and compression behaviour the formats depend on; the
queries are the same in both and are the control a formats change must
leave unchanged.

A run is made of whole rounds of each kind (see :class:`Sizes`), so that
every run has the same mix of ops and its medians are comparable.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from datetime import date, datetime
from decimal import Decimal
from pathlib import Path

from pyspark.sql import functions as F

from json_format_in_parquet_benchmark_spark import generator
from json_format_in_parquet_benchmark_spark.formats import FORMATS, get_format
from json_format_in_parquet_benchmark_spark.formats.base import PAGE_SIZE, REF_ZSTD_LEVEL
from json_format_in_parquet_benchmark_spark.formats.jsonc_tape import get_path_udf
from json_format_in_parquet_benchmark_spark.formats.variant_shred import EVENTS_SHRED_DDL
from json_format_in_parquet_benchmark_spark.metrics import dir_bytes
from json_format_in_parquet_benchmark_spark.operators.dedup import release_caches
from json_format_in_parquet_benchmark_spark.plans import REGISTRY
from json_format_in_parquet_benchmark_spark.session import get_spark
from json_format_in_parquet_benchmark_spark.sources.ndjson import read_ndjson_raw
from json_format_in_parquet_benchmark_spark.tables import TABLES, table_path

from tracer import COUNTERS, Tracer, self_times

# workload -> NDV fraction of the events corpus
WORKLOADS = {"ndv_0.1": 0.1, "ndv_1.0": 1.0}

PATHS = ("$.name", "$.attributes.event_attributes")

# One headliner per query family (``bench=True`` registry entries).
ANALYTICS_QUERIES = {
    "dedup_embedding_cosine": "dedup",
    "similarity_topk_bruteforce": "similarity",
    "flagship_events_enriched": "events",
    "text_bm25_topk": "text",
    "q3_shipping_priority": "relational",
    "graph_communities_trading": "graph",
    "pipeline_pretrain_corpus": "pipeline",
    "multimodal_decode_features": "multimodal",
    "stream_sessionize_batch": "streaming",
}
FAMILIES = tuple(dict.fromkeys(ANALYTICS_QUERIES.values()))

DATA_DIR = Path(__file__).resolve().parent / "data" / "sf0.001"
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
MB = 1e6


@dataclass(frozen=True)
class Sizes:
    """How much one run does.  One store round (5 ops), three path rounds
    (30 queries, three of each format and path) and one query round (9
    queries, each run cold and warm) take about ``BASE_SECONDS`` on an idle
    4-core box; ``for_seconds`` scales that mix by whole multiples."""

    rows: int
    store_rounds: int
    path_rounds: int
    analytics_rounds: int

    ROWS = 2_000
    BASE_SECONDS = 30

    @classmethod
    def for_seconds(cls, seconds: float) -> "Sizes":
        k = max(1, round(seconds / cls.BASE_SECONDS))
        return cls(cls.ROWS, k, 3 * k, k)


def spark_conf(work: Path) -> dict[str, str]:
    """Fixed settings of the benchmark's session on top of the engine's own
    (``session.get_spark``); all scratch space stays under ``work``."""
    return {
        "spark.driver.memory": DRIVER_MEMORY,
        # a fixed heap size keeps the JVM's resident set from depending on
        # when the collector decided to grow the heap
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "spark-local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # the tracer reads jobs, stages and SQL executions back by id
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def doc_digest(df):
    """Order-insensitive digest of a ``doc`` column: row count and the
    exact sum of the xxhash64 of every document re-parsed with the events
    schema, so key order and number formatting do not matter."""
    h = F.xxhash64(F.from_json("doc", EVENTS_SHRED_DDL)).cast("decimal(38,0)")
    return df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))


def path_aggregate(values, path: str):
    """The aggregate a path query returns: count and max of ``$.name``;
    count and exact decimal sum of the nested double."""
    v = F.col("value")
    if path == PATHS[0]:
        return values.agg(F.count(v).alias("n"), F.max(v).alias("agg"))
    return values.agg(F.count(v).alias("n"), F.sum(v.cast("decimal(38,3)")).alias("agg"))


def _norm(v) -> str:
    """A result cell normalized as the repository's DuckDB oracle checks
    do it: floats by ``repr``, decimals as floats."""
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, (datetime, date)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def result_digest(columns: list[str], rows) -> tuple[tuple[str, ...], int, str]:
    """Sorted column names, row count and an order-insensitive hash of the
    values, columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    digest = hashlib.md5("\x1e".join(lines).encode()).hexdigest()
    return tuple(columns[i] for i in order), len(lines), digest


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def median0(xs) -> float:
    """Median, or 0 when every op it would cover failed."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


class Bench:
    """State of one run; ``run`` returns the result object to print."""

    def __init__(self, work: Path, ndv: float, seed: int, sizes: Sizes, trace: bool):
        self.work = work
        self.ndv = ndv
        self.sizes = sizes
        self.tracer = Tracer(trace)
        self.cpus = len(os.sched_getaffinity(0))
        self.t0 = time.perf_counter()
        self.rng = random.Random(seed)
        self.salt = f"seed{seed}"
        self.spark = None
        self.corpus = str(work / "corpus.ndjson")
        self.stored = work / "stored"
        self.loaded: dict = {}  # format -> its stored corpus, loaded
        self.attempted = 0
        self.failed = 0
        # measurements
        self.session_s = 0.0
        self.setup: list[tuple[float, float]] = []  # corpus s, corpus + stores s
        self.store_rounds: list[list[tuple[float, float]]] = []  # ingest s, readback s
        self.stored_bytes: dict[str, int] = {}
        self.path_s: dict[tuple[str, str], list[float]] = {}  # (format, path) -> latencies
        self.query_rounds: list[list[tuple[str, float, float]]] = []  # query, cold s, warm s
        self.results: list[tuple[str, list]] = []  # query, digests of its cold and warm runs
        self.cache_bytes_held = 0

    def log(self, what: str) -> None:
        """Progress on stderr; stdout carries only the result line."""
        print(f"perfbench: {what} done at {time.perf_counter() - self.t0:.1f} s", file=sys.stderr)

    # -- set-up ------------------------------------------------------------

    def start_session(self) -> None:
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", cpus=self.cpus, extra_conf=spark_conf(self.work)
        )
        self.tracer.spark = self.spark
        self.session_s = time.perf_counter() - t0

    def setup_data(self) -> None:
        """Write the corpus as NDJSON, store it in every format and load
        those for the path ops."""
        t1 = time.perf_counter()
        corpus = generator.generate_events_ndjson(self.spark, self.sizes.rows, self.ndv, self.salt)
        corpus.coalesce(1).write.mode("overwrite").text(self.corpus)
        t2 = time.perf_counter()
        for name in FORMATS:
            fmt = get_format(name)
            encoded = fmt.encode(read_ndjson_raw(self.spark, self.corpus))
            fmt.flush(encoded, str(self.stored / name), zstd_level=REF_ZSTD_LEVEL, page_size=PAGE_SIZE)
            self.loaded[name] = fmt.load(self.spark, str(self.stored / name))
        t3 = time.perf_counter()
        self.setup.append((t2 - t1, t3 - t1))

    def expected_values(self) -> None:
        """What the checks compare against, computed outside every timing."""
        row = doc_digest(read_ndjson_raw(self.spark, self.corpus)).collect()[0]
        self.expected_digest = (row["n"], row["h"])
        self.corpus_bytes = dir_bytes(self.corpus)
        events = generator.generate_events(self.spark, self.sizes.rows, self.ndv, self.salt)
        self.expected_path = {}
        for path, col in zip(PATHS, ("name", "attributes.event_attributes")):
            row = path_aggregate(events.select(F.col(col).alias("value")), path).collect()[0]
            self.expected_path[path] = (row["n"], str(row["agg"]))

    # -- the layers, each call wrapped in a span ---------------------------

    def collect(self, df):
        with self.tracer.span("spark.collect", "spark"):
            rows = df.collect()
            self.tracer.record_plan(df)
        return rows

    def guarded(self, label: str, fn, *args) -> None:
        """Run one op; an exception or a failed check counts it as failed."""
        self.attempted += 1
        try:
            fn(*args)
        except Exception:
            self.failed += 1
            print(f"perfbench: op {label} failed:\n{traceback.format_exc()}", file=sys.stderr)

    def store_op(self, name: str) -> None:
        fmt = get_format(name)
        tr, out = self.tracer, str(self.work / "store" / name)
        with tr.op(f"store.{name}"):
            t0 = time.perf_counter()
            with tr.span("sources.read_ndjson_raw", "sources"):
                raw = read_ndjson_raw(self.spark, self.corpus)
            with tr.span(f"formats.{name}.encode", "formats"):
                encoded = fmt.encode(raw)
            with tr.span(f"formats.{name}.flush", "formats"):
                fmt.flush(encoded, out, zstd_level=REF_ZSTD_LEVEL, page_size=PAGE_SIZE)
            t1 = time.perf_counter()
            with tr.span(f"formats.{name}.load", "formats"):
                loaded = fmt.load(self.spark, out)
            with tr.span(f"formats.{name}.decode", "formats"):
                decoded = fmt.decode(loaded)
            self.collect(decoded.agg(F.sum(F.length("doc"))))
            t2 = time.perf_counter()
        self.store_rounds[-1].append((t1 - t0, t2 - t1))
        self.stored_bytes[name] = dir_bytes(out)
        # the check reads the stored corpus a second time, outside the timing
        row = doc_digest(decoded).collect()[0]
        if (row["n"], row["h"]) != self.expected_digest:
            raise AssertionError(
                f"{name}: decoded digest {(row['n'], row['h'])} != input {self.expected_digest}"
            )

    def path_values(self, name: str, fmt, stored, path: str):
        """The per-format path getter."""
        if name == "plain_json":
            return stored.select(F.get_json_object("doc", path).alias("value"))
        if name in ("jsonb", "jsonb_shredded"):
            return fmt.get_path(stored, path, "string")
        if name == "variant":
            return stored.select(F.col(path[2:]).alias("value"))
        return stored.select(
            get_path_udf(tuple(path[2:].split(".")))("nodes", "strings", "numbers").alias("value")
        )

    def path_op(self, name: str, path: str) -> None:
        fmt = get_format(name)
        tr = self.tracer
        with tr.op(f"path.{name}"):
            t0 = time.perf_counter()
            with tr.span(f"formats.{name}.get_path", "formats"):
                values = self.path_values(name, fmt, self.loaded[name], path)
            row = self.collect(path_aggregate(values, path))[0]
            t1 = time.perf_counter()
        self.path_s.setdefault((name, path), []).append(t1 - t0)
        got = (row["n"], str(row["agg"]))
        if got != self.expected_path[path]:
            raise AssertionError(f"{name} {path}: {got} != {self.expected_path[path]}")

    def query_op(self, name: str) -> None:
        query = REGISTRY[name]
        tr, sf_dir = self.tracer, str(DATA_DIR)
        digests: list = []
        with tr.op(f"query.{name}"):
            with tr.span("operators.release_caches", "operators"):
                release_caches()
            times = []
            for trial in ("cold", "warm"):
                t0 = time.perf_counter()
                with tr.span(f"plans.{trial}.build", "plans"):
                    df = query.fn(self.spark, sf_dir)
                rows = self.collect(df)
                times.append(time.perf_counter() - t0)
                digests.append(result_digest(df.columns, [tuple(r) for r in rows]))
        self.query_rounds[-1].append((name, times[0], times[1]))
        self.results.append((name, digests))
        if tr.enabled:
            infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
            held = sum(i.memSize() + i.diskSize() for i in infos)
            self.cache_bytes_held = max(self.cache_bytes_held, held)

    def check_queries(self) -> None:
        """Every result of every query against its DuckDB oracle."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in TABLES:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(str(DATA_DIR), t)}')")
            oracle = {}
            for name, digests in self.results:
                if name not in oracle:
                    rel = con.sql(REGISTRY[name].oracle)
                    oracle[name] = result_digest(list(rel.columns), rel.fetchall())
                if any(d != oracle[name] for d in digests):
                    # the op already counted as attempted; its outputs are wrong
                    self.failed += 1
                    print(f"perfbench: {name}: result differs from the DuckDB oracle: "
                          f"{[d[:2] for d in digests]} vs {oracle[name][:2]}", file=sys.stderr)
        finally:
            con.close()

    # -- the run -------------------------------------------------------------

    def schedule(self) -> list[tuple]:
        """All ops of the run: ``("store", round, format)``, ``("path",
        round, format, path)`` and ``("query", round, query)``.  Within a
        kind the seed shuffles the store formats and the queries of each
        round and picks the format the path queries start from; the path
        queries alternate the two paths.  The kinds are interleaved evenly,
        so that each kind's samples span the whole run and a slower spell
        of a shared machine weighs on all of them alike."""
        store, path, query = [], [], []
        for r in range(self.sizes.store_rounds):
            order = list(FORMATS)
            self.rng.shuffle(order)
            store += [("store", r, name) for name in order]
        start = self.rng.randrange(len(FORMATS))
        formats = list(FORMATS)[start:] + list(FORMATS)[:start]
        for r in range(self.sizes.path_rounds):
            path += [("path", r, formats[i % len(formats)], PATHS[i % len(PATHS)])
                     for i in range(2 * len(formats))]
        for r in range(self.sizes.analytics_rounds):
            order = list(ANALYTICS_QUERIES)
            self.rng.shuffle(order)
            query += [("query", r, name) for name in order]
        ops = [((i + 0.5) / len(kind), k, op)
               for k, kind in enumerate((store, path, query)) for i, op in enumerate(kind)]
        return [op for *_, op in sorted(ops)]

    def run(self) -> dict:
        self.start_session()
        for _ in range(SETUP_REPEATS):
            self.setup_data()
        self.expected_values()
        self.log("set-up")
        for kind, *args in self.schedule():
            if kind == "store" and args[0] == len(self.store_rounds):
                self.store_rounds.append([])
            if kind == "query" and args[0] == len(self.query_rounds):
                self.query_rounds.append([])
            self.guarded(f"{kind}.{args[1]}", getattr(self, f"{kind}_op"), *args[1:])
        self.log("measured ops")
        self.check_queries()
        self.log("oracle checks")
        jvm_pid = self.spark._jvm.ProcessHandle.current().pid()
        self.peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb(os.getpid())
        metrics = self.layer_metrics() if self.tracer.enabled else self.end_to_end_metrics()
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def stop(self) -> None:
        """Stop Spark and its JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at end of its stdin
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None

    # -- metrics -----------------------------------------------------------

    def end_to_end_metrics(self) -> dict[str, tuple[float, str]]:
        stores = [op for r in self.store_rounds for op in r]
        mb = self.corpus_bytes / MB * len(stores)
        queries = [r for r in self.query_rounds if r]
        out = {
            "setup_s": (self.session_s + median0(s[1] for s in self.setup), "s"),
            "ingest_mb_s": (mb / sum(i for i, _ in stores) if stores else 0.0, "MB/s"),
            "readback_mb_s": (mb / sum(b for _, b in stores) if stores else 0.0, "MB/s"),
        }
        for name in FORMATS:
            out[f"bytes_ratio.{name}"] = (self.stored_bytes.get(name, 0) / self.corpus_bytes, "ratio")
        # Per (format, path) means.  The formats' latencies differ up to
        # fourfold, so a percentile of all queries pooled would jump from one
        # format's latencies to another's between runs.  Within a pair each
        # query is faster than the last while the JVM compiles its code, so
        # a median would depend on when that happened; the mean does not.
        path_means = [statistics.fmean(v) for v in self.path_s.values()]
        out["path_geomean_s"] = (statistics.geometric_mean(path_means) if path_means else 0.0, "s")
        out["path_slowest_s"] = (max(path_means, default=0.0), "s")
        out["query_cold_total_s"] = (median0(sum(c for _, c, _ in r) for r in queries), "s")
        colds = [c for r in queries for _, c, _ in r]
        out["query_cold_geomean_s"] = (statistics.geometric_mean(colds) if colds else 0.0, "s")
        out["query_warm_total_s"] = (median0(sum(w for _, _, w in r) for r in queries), "s")
        out["peak_rss_mb"] = (self.peak_rss_mb, "MB")
        return out

    def layer_metrics(self) -> dict[str, tuple[float, str]]:
        spans = self.tracer.spans
        selfs = self_times(spans)
        by_op: dict[int, list] = {}
        for s in spans:
            by_op.setdefault(s.op, []).append(s)
        roots = {s.op: s for s in spans if s.parent is None}

        def op_sum(op: int, counter: str) -> float:
            return sum(s.counters.get(counter, 0.0) for s in by_op[op])

        def ops(kind: str, name: str = ""):
            """Ops of one kind, or of one kind and format (root names are
            ``<kind>.<format or query>``)."""
            if name:
                return [op for op, r in roots.items() if r.name == f"{kind}.{name}"]
            return [op for op, r in roots.items() if r.name.startswith(f"{kind}.")]

        def spans_named(op: int, *names: str):
            return [s for s in by_op[op] if s.name in names]

        out: dict[str, tuple[float, str]] = {
            "session.start_s": (self.session_s, "s"),
            "generator.corpus_s": (median0(s[0] for s in self.setup), "s"),
            "sources.input_bytes": (float(self.corpus_bytes * len(ops("store"))), "bytes"),
        }
        for name in FORMATS:
            store_ops = ops("store", name)
            path_ops = ops("path", name)
            out[f"formats.{name}.flush_s"] = (median0(
                sum(s.duration for s in spans_named(op, f"formats.{name}.flush")) for op in store_ops), "s")
            out[f"formats.{name}.load_decode_s"] = (median0(
                sum(s.duration for s in spans_named(
                    op, f"formats.{name}.load", f"formats.{name}.decode", "spark.collect"))
                for op in store_ops), "s")
            out[f"formats.{name}.stored_bytes"] = (float(self.stored_bytes.get(name, 0)), "bytes")
            out[f"formats.{name}.path_s"] = (
                statistics.fmean(roots[op].duration for op in path_ops) if path_ops else 0.0, "s")
            out[f"formats.{name}.path_scan_bytes"] = (median0(
                op_sum(op, "scan_bytes") for op in path_ops), "bytes")
        jsonc_ops = ops("store", "jsonc") + ops("path", "jsonc")
        out["formats.jsonc.python_s"] = (sum(op_sum(op, "python_s") for op in jsonc_ops), "s")
        out["formats.jsonc.python_bytes"] = (sum(op_sum(op, "python_bytes") for op in jsonc_ops), "bytes")

        query_ops = ops("query")
        builds = [s for op in query_ops for s in by_op[op] if s.layer == "plans"]
        out["plans.build_s"] = (sum(s.duration for s in builds), "s")
        out["plans.build_jobs"] = (sum(s.counters["jobs"] for s in builds), "count")
        out["plans.collect_s"] = (sum(
            s.duration for op in query_ops for s in spans_named(op, "spark.collect")), "s")
        for family in FAMILIES:
            out[f"plans.{family}.cold_s"] = (sum(
                c for r in self.query_rounds for q, c, _ in r if ANALYTICS_QUERIES[q] == family), "s")

        units = {c: "s" if c.endswith("_s") else ("bytes" if c.endswith("_bytes") else "count")
                 for c in COUNTERS}
        for c in COUNTERS:
            out[f"spark.{c}"] = (sum(s.counters.get(c, 0.0) for s in spans), units[c])
        # op wall time without the tracer's own time in any span of the op
        op_wall = sum(r.end - r.start - sum(s.overhead for s in by_op[op]) for op, r in roots.items())
        out["spark.idle_core_s"] = (self.cpus * op_wall - out["spark.executor_run_s"][0], "s")

        releases = [s for s in spans if s.name == "operators.release_caches"]
        out["operators.release_caches_s"] = (sum(s.duration for s in releases), "s")
        out["operators.cache_bytes_held"] = (float(self.cache_bytes_held), "bytes")

        for layer in ("benchmark", "sources", "formats", "plans", "operators", "spark"):
            out[f"self_s.{layer}"] = (sum(selfs[s.id] for s in spans if s.layer == layer), "s")
        out["trace.root_self_share"] = (out["self_s.benchmark"][0] / op_wall, "ratio")
        out["trace.overhead_s"] = (self.tracer.overhead_s, "s")
        return out
