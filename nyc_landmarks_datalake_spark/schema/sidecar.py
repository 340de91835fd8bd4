"""Sidecar JSON schema registry → Spark StructType.

The reference discovers a JSON schema sidecar via an S3 object tag and
parses `{key, type, partition_key, comment}` descriptors
(CSVIngest.java:88-100, :188-194). Deliberate fixes over the reference
(SURVEY §1.4):

- ordered StructType instead of HashSet (the reference's unordered set
  breaks its own positional compare, CSVIngest.java:39, :165-171);
- accepts BOTH a bare JSON array and a `{"schema": [...]}` wrapper, and
  repairs the reference's malformed fixture (testSchema.json:1 starts
  `"schema": [` with no enclosing braces, so the reference's parse
  always throws and validation can never succeed);
- the `type` lexicon is full Spark DDL (int/bigint/double/decimal(p,s)/
  date/timestamp/array<...>/...), with the reference's all-"string"
  fixture as the trivial subset;
- `partition_key` drives DataFrameWriter.partitionBy (the reference
  parses the flag, CSVIngest.java:191, but never uses it).
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import types as T


class SchemaValidationError(Exception):
    """Header does not match the sidecar schema (CSVIngest.java:280-284
    equivalent, but actually raised in strict mode)."""


def _coerce_bool(v: Any) -> bool:
    if isinstance(v, bool):
        return v
    return str(v).strip().lower() == "true"


_SIMPLE_TYPES: dict[str, T.DataType] = {
    "string": T.StringType(),
    "varchar": T.StringType(),
    "text": T.StringType(),
    "boolean": T.BooleanType(),
    "bool": T.BooleanType(),
    "tinyint": T.ByteType(),
    "byte": T.ByteType(),
    "smallint": T.ShortType(),
    "short": T.ShortType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "bigint": T.LongType(),
    "long": T.LongType(),
    "float": T.FloatType(),
    "real": T.FloatType(),
    "double": T.DoubleType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
    "timestamp_ntz": T.TimestampNTZType(),
    "binary": T.BinaryType(),
    "decimal": T.DecimalType(10, 0),
}


def parse_type(type_str: str) -> T.DataType:
    """Spark-DDL-compatible type parser, JVM-free (the sidecar is parsed
    driver-side, possibly before any SparkSession exists). Supports the
    primitive lexicon plus decimal(p,s), array<...>, map<...>, and
    struct<name:type,...>."""
    s = type_str.strip()
    low = s.lower()
    if low in _SIMPLE_TYPES:
        return _SIMPLE_TYPES[low]
    if low.startswith("decimal"):
        inner = s[s.index("(") + 1 : s.rindex(")")]
        p, sc = (int(x.strip()) for x in inner.split(","))
        return T.DecimalType(p, sc)
    if low.startswith("array<") and s.endswith(">"):
        return T.ArrayType(parse_type(s[6:-1]))
    if low.startswith("map<") and s.endswith(">"):
        parts = _split_top_level(s[4:-1])
        if len(parts) != 2:
            raise ValueError(f"map type needs a key and a value type: {type_str!r}")
        return T.MapType(parse_type(parts[0]), parse_type(parts[1]))
    if low.startswith("struct<") and s.endswith(">"):
        fields = []
        for part in _split_top_level(s[7:-1]):
            if part.strip():
                name, t = part.split(":", 1)
                fields.append(T.StructField(name.strip(), parse_type(t)))
        return T.StructType(fields)
    raise ValueError(f"unsupported sidecar type: {type_str!r}")


def _split_top_level(s: str) -> list[str]:
    """Split ``s`` at the commas outside any <...> or (...) nesting."""
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return parts


def parse_sidecar(text: str) -> T.StructType:
    """Parse sidecar JSON text into an ordered StructType.

    Accepts: bare array, {"schema": [...]}, or the reference's malformed
    `"schema": [...]` fragment (repaired by wrapping in braces).
    """
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = json.loads("{" + text + "}")  # the reference fixture's shape
    if isinstance(doc, dict):
        doc = doc.get("schema", [])
    if not isinstance(doc, list):
        raise ValueError("sidecar schema must be a JSON array of descriptors")
    fields = []
    for el in doc:
        name = el["key"]
        type_str = el.get("type", "string")
        dtype = parse_type(type_str)
        meta = {
            "comment": el.get("comment", ""),
            "partition_key": _coerce_bool(el.get("partition_key", False)),
        }
        fields.append(T.StructField(name, dtype, nullable=True, metadata=meta))
    return T.StructType(fields)


def load_sidecar(path: str) -> T.StructType:
    with open(path, encoding="utf-8") as f:
        return parse_sidecar(f.read())


def partition_keys(schema: T.StructType) -> list[str]:
    return [f.name for f in schema.fields if f.metadata.get("partition_key")]


def validate_header(
    header: list[str], schema: T.StructType, strict: bool = False
) -> list[str]:
    """Positional header-vs-schema compare (single cursor — the reference
    advances its iterator twice per loop, CSVIngest.java:167-168, so it
    compares each header against the *next* element).

    Returns a list of mismatch descriptions; raises in strict mode.
    Permissive mode mirrors the reference's de-facto behavior of
    proceeding anyway (it discards the boolean, CSVIngest.java:237).
    """
    problems: list[str] = []
    expected = [f.name for f in schema.fields]
    if len(header) != len(expected):
        problems.append(
            f"arity mismatch: header has {len(header)} columns, "
            f"schema has {len(expected)}"
        )
    for i, (h, e) in enumerate(zip(header, expected)):
        if h != e:
            problems.append(f"position {i}: header {h!r} != schema {e!r}")
    if strict and problems:
        raise SchemaValidationError("; ".join(problems))
    return problems
