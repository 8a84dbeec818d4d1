"""Type system: Oracle-source -> Spark type mapping + DDL-string parser.

Re-implements the reference's ``possible_types`` map
(reference src/apply_change_log_to_delta.py:69-96, repeated in
dev/_get_schema_from_glue.py:30-48) and its Oracle-DDL-to-schema builder
(reference dev/_sample_target_offenders.py:64-98). Fallback type is string,
matching the reference (src/apply_change_log_to_delta.py:90-96).
"""

from __future__ import annotations

import re

from pyspark.sql import types as T

# Oracle (and generic) type-name -> Spark type. String fallback.
TYPE_MAP: dict[str, T.DataType] = {
    "double": T.DoubleType(),
    "float": T.FloatType(),
    "long": T.LongType(),
    "bigint": T.LongType(),
    "int": T.IntegerType(),
    "integer": T.IntegerType(),
    "number": T.IntegerType(),
    "boolean": T.BooleanType(),
    "binary": T.BinaryType(),
    "string": T.StringType(),
    "varchar": T.StringType(),
    "varchar2": T.StringType(),
    "char": T.StringType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}


def spark_type_for(type_name: str) -> T.DataType:
    """Map a source type name (case-insensitive, size suffix like
    ``VARCHAR2(40)`` ignored) to a Spark type; string fallback."""
    base = re.split(r"[\s(]", type_name.strip().lower())[0]
    return TYPE_MAP.get(base, T.StringType())


def schema_from_ddl(ddl: str) -> T.StructType:
    """Build a StructType from an Oracle-ish ``CREATE TABLE`` body or a bare
    ``col TYPE, col TYPE`` list. Column names are lowercased (the engine's
    convention: UPPERCASE at the CDC edge, lowercase in targets —
    reference src/apply_change_log_to_delta.py:347-351)."""
    body = ddl
    match = re.search(r"\((.*)\)\s*;?\s*$", ddl, flags=re.S)
    if match and re.match(r"\s*create\b", ddl, flags=re.I):
        body = match.group(1)
    fields = []
    for part in _split_top_level(body):
        tokens_ = part.strip().split(None, 1)
        if len(tokens_) < 2:
            continue
        name, type_name = tokens_[0], tokens_[1]
        if name.lower() in {"primary", "constraint", "unique", "key"}:
            continue
        fields.append(T.StructField(name.lower(), spark_type_for(type_name), True))
    return T.StructType(fields)


def _split_top_level(body: str) -> list[str]:
    """Split on commas not inside parentheses (VARCHAR2(40) etc.)."""
    parts, depth, current = [], 0, []
    for ch in body:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(current))
            current = []
        else:
            current.append(ch)
    if current:
        parts.append("".join(current))
    return parts


# Lineage columns appended to every structured/target table
# (reference dev/_sample_target_offenders.py:92-95).
ADMIN_COLUMNS = T.StructType(
    [
        T.StructField("admin_hash", T.StringType(), True),
        T.StructField("admin_gg_pos", T.StringType(), True),
        T.StructField("admin_gg_op_ts", T.TimestampType(), True),
        T.StructField("admin_event_ts", T.TimestampType(), True),
    ]
)


def with_admin_columns(schema: T.StructType) -> T.StructType:
    names = {f.name.lower() for f in schema.fields}
    out = list(schema.fields)
    for f in ADMIN_COLUMNS.fields:
        if f.name not in names:
            out.append(f)
    return T.StructType(out)
