"""jsonc: the document as a columnar "tape" -- structure/value separation.

Reference: /root/reference/src/format/jsonc.rs stores each document as three
parallel pools (node opcodes UInt8, string pool Utf8, number pool Float64;
Parquet schema at jsonc.rs:21-44).  The tape's point is that parsing happens
ONCE at encode time; queries walk pre-parsed structure.

We keep the same physical shape (struct of three lists) but define our own
documented opcode stream (the reference's comes from an external crate whose
internals are out of scope):

  preorder walk; each node appends one opcode to `nodes`:
    0 null | 1 false | 2 true
    3 number  -> value appended to `numbers`
    4 string  -> value appended to `strings`
    5 object  -> entry count appended to `nodes` as a varint; then per entry
                 the key is appended to `strings` followed by the value's
                 encoding
    6 array   -> item count appended to `nodes` as a varint; then item
                 encodings

Entry counts ride the OPCODE stream, not the number pool: a count is pure
structure, and mixing one low-entropy count per container into the f64 value
pool breaks its dictionary/RLE runs (measured 26.1 KB -> 14-17 KB on the
reference's events_ndv_0.1_8192 grid corpus just by moving them out, since
the pool's dictionary indices shrink from 3 to 1 entry per document while
the near-constant counts cost ~nothing among the u8 opcodes).  The varint
is int8-safe because the Spark column is a SIGNED tinyint: little-endian
base-128 digits, continuation bytes stored NEGATIVE (digit - 128), the
terminal digit stored as-is (0..127) -- so counts < 128 (virtually all
real documents) cost one byte.

Limitations (shared with the reference): all numbers live in a Float64 pool,
so integers above 2^53 lose precision (the reference's number_opt_list is
f64, jsonc.rs:36).

Spark-first note: tape construction is genuinely structural recursion Spark
expressions can't state, so this is a legitimate Pandas-UDF use (Arrow
batches in/out, no per-row Python round trip through the JVM boundary).
Dynamic path ACCESS at scale should use the variant format instead; the tape
exists for storage-layout parity and benchmarking.
"""

from __future__ import annotations

import functools
import json
import weakref

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .base import DOC_COL, JsonFormatBase

TAPE_SCHEMA = "nodes array<tinyint>, strings array<string>, numbers array<double>"

OP_NULL, OP_FALSE, OP_TRUE, OP_NUMBER, OP_STRING, OP_OBJECT, OP_ARRAY = range(7)


def _append_varint(nodes: list[int], n: int) -> None:
    """Append a container entry count to the opcode stream as an int8-safe
    varint (see module docstring): continuation digits negative, terminal
    digit 0..127."""
    while n >= 128:
        nodes.append((n & 0x7F) - 128)
        n >>= 7
    nodes.append(n)


def encode_tape(value) -> tuple[list[int], list[str], list[float]]:
    """Python-side preorder tape encoder (exercised inside the pandas UDF
    and directly unit-testable)."""
    nodes: list[int] = []
    strings: list[str] = []
    numbers: list[float] = []

    def walk(v) -> None:
        if v is None:
            nodes.append(OP_NULL)
        elif v is True:
            nodes.append(OP_TRUE)
        elif v is False:
            nodes.append(OP_FALSE)
        elif isinstance(v, (int, float)):
            nodes.append(OP_NUMBER)
            numbers.append(float(v))
        elif isinstance(v, str):
            nodes.append(OP_STRING)
            strings.append(v)
        elif isinstance(v, list):
            nodes.append(OP_ARRAY)
            _append_varint(nodes, len(v))
            for item in v:
                walk(item)
        elif isinstance(v, dict):
            nodes.append(OP_OBJECT)
            _append_varint(nodes, len(v))
            for k, item in v.items():
                strings.append(k)
                walk(item)
        else:  # pragma: no cover
            raise TypeError(f"unsupported JSON value {type(v)}")

    walk(value)
    return nodes, strings, numbers


class _Cursor:
    """Position in the three pools; methods advance it past one value."""

    __slots__ = ("nodes", "strings", "numbers", "ni", "si", "xi")

    def __init__(self, nodes, strings, numbers):
        self.nodes, self.strings, self.numbers = nodes, strings, numbers
        self.ni = self.si = self.xi = 0

    def read_count(self) -> int:
        """Read a container entry count (int8-safe varint) from the opcode
        stream at the cursor."""
        n = 0
        shift = 0
        while True:
            b = self.nodes[self.ni]
            self.ni += 1
            if b < 0:  # continuation digit, payload = b + 128
                n |= (b + 128) << shift
                shift += 7
            else:  # terminal digit
                return n | (b << shift)

    def read(self):
        """Materialize the value at the cursor (advances past it)."""
        op = self.nodes[self.ni]
        self.ni += 1
        if op == OP_NULL:
            return None
        if op == OP_FALSE:
            return False
        if op == OP_TRUE:
            return True
        if op == OP_NUMBER:
            x = self.numbers[self.xi]
            self.xi += 1
            return int(x) if float(x).is_integer() and abs(x) < 2**53 else x
        if op == OP_STRING:
            s = self.strings[self.si]
            self.si += 1
            return s
        if op == OP_ARRAY:
            n = self.read_count()
            return [self.read() for _ in range(n)]
        if op == OP_OBJECT:
            n = self.read_count()
            out = {}
            for _ in range(n):
                key = self.strings[self.si]
                self.si += 1
                out[key] = self.read()
            return out
        raise ValueError(f"bad opcode {op}")

    def skip(self):
        """Advance past the value at the cursor WITHOUT materializing it --
        the operation that makes tape path-access cheaper than full decode
        (structure is in the opcode stream, so skipping costs O(subtree
        nodes) index bumps and zero allocation)."""
        op = self.nodes[self.ni]
        self.ni += 1
        if op in (OP_NULL, OP_FALSE, OP_TRUE):
            return
        if op == OP_NUMBER:
            self.xi += 1
            return
        if op == OP_STRING:
            self.si += 1
            return
        n = self.read_count()  # OP_ARRAY / OP_OBJECT
        for _ in range(n):
            if op == OP_OBJECT:
                self.si += 1  # entry key
            self.skip()


def decode_tape(nodes, strings, numbers):
    """Inverse of :func:`encode_tape` -> Python JSON value."""
    return _Cursor(nodes, strings, numbers).read()


def get_path_tape(nodes, strings, numbers, path):
    """Path access ON the tape representation (reference ``Jsonc::get``,
    /root/reference/src/format/jsonc.rs via benches/query.rs:23-28): walk the
    pre-parsed opcode stream, descending into matching object entries and
    SKIPPING non-matching subtrees -- the document is never re-parsed and
    non-matching values are never materialized.

    ``path`` is a sequence of object keys (the reference's probes are all
    dot-paths of object fields).  Returns the Python value at the path, or
    None if any step is missing or hits a non-object.
    """
    cur = _Cursor(nodes, strings, numbers)
    for key in path:
        op = cur.nodes[cur.ni]
        if op != OP_OBJECT:
            return None
        cur.ni += 1
        n = cur.read_count()
        found = False
        for _ in range(n):
            k = cur.strings[cur.si]
            cur.si += 1
            if k == key:
                found = True
                break
            cur.skip()
        if not found:
            return None
    return cur.read()


def _per_context(build):
    """Memoize a UDF builder per SparkContext.

    A UDF object binds the Python accumulator of the SparkContext it is first
    applied in; reused after that context stops, every task of the next one
    logs "Failed to update accumulator".  Within one context the same object
    is returned, so plans are unchanged."""
    by_context = weakref.WeakKeyDictionary()

    @functools.wraps(build)
    def get(*args):
        sc = SparkContext._active_spark_context
        if sc is None:
            return build(*args)
        udfs = by_context.setdefault(sc, {})
        if args not in udfs:
            udfs[args] = build(*args)
        return udfs[args]

    return get


@_per_context
def _encode_udf():
    # built lazily: pandas_udf registration needs an active SparkSession
    @pandas_udf(TAPE_SCHEMA)
    def encode_udf(docs: pd.Series) -> pd.DataFrame:
        rows = [encode_tape(json.loads(d)) for d in docs]
        return pd.DataFrame(
            {
                "nodes": [r[0] for r in rows],
                "strings": [r[1] for r in rows],
                "numbers": [r[2] for r in rows],
            }
        )

    return encode_udf


@_per_context
def get_path_udf(path: tuple[str, ...]):
    """Pandas UDF extracting ``path`` from tape columns as a string (strings
    come back raw, other values as compact JSON).

    Parity caveat: string results match ``get_json_object`` exactly, but
    numbers are re-serialized from the Float64 pool (integral floats emit as
    ints), NOT from the source literal -- the tape stores every number as
    f64 (same as the reference's number pool, jsonc.rs:36), so "1.0" in the
    source would come back "1" here while the re-parse arm preserves the
    source text.  The golden probes are all strings, where the three arms
    are exactly comparable."""

    @pandas_udf("string")
    def _udf(nodes: pd.Series, strings: pd.Series, numbers: pd.Series) -> pd.Series:
        out = []
        for n, s, x in zip(nodes, strings, numbers):
            v = get_path_tape(list(n), list(s), list(x), path)
            if v is None:
                out.append(None)
            elif isinstance(v, str):
                out.append(v)
            else:
                out.append(json.dumps(v, separators=(",", ":"), ensure_ascii=False))
        return pd.Series(out, dtype=object)

    return _udf


@_per_context
def _decode_udf():
    @pandas_udf("string")
    def decode_udf(
        nodes: pd.Series, strings: pd.Series, numbers: pd.Series
    ) -> pd.Series:
        out = []
        for n, s, x in zip(nodes, strings, numbers):
            value = decode_tape(list(n), list(s), list(x))
            out.append(json.dumps(value, separators=(",", ":"), ensure_ascii=False))
        return pd.Series(out)

    return decode_udf


class JsoncTapeFormat(JsonFormatBase):
    name = "jsonc"

    def encode(self, raw: DataFrame) -> DataFrame:
        from ..session import ship_package

        ship_package(raw.sparkSession)
        return raw.select(_encode_udf()(F.col(DOC_COL)).alias("tape")).select(
            F.col("tape.nodes").alias("nodes"),
            F.col("tape.strings").alias("strings"),
            F.col("tape.numbers").alias("numbers"),
        )

    def decode(self, encoded: DataFrame) -> DataFrame:
        from ..session import ship_package

        ship_package(encoded.sparkSession)
        return encoded.select(
            _decode_udf()(F.col("nodes"), F.col("strings"), F.col("numbers")).alias(
                DOC_COL
            )
        )
