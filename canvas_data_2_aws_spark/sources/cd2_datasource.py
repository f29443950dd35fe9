"""Custom Python DataSource for CD2 envelope JSONL (Spark 4 API).

``spark.read.format("cd2_envelope")`` over a directory of incremental
part-files, mirroring the reference pipeline's ingest unit: the DAP
job returns N downloadable parts, and this source maps **one part-file
to one input partition**, so decode parallelism equals part count —
the same parallelism contract as the reference's download pool
(SURVEY §3.1) expressed through Spark's planner.

This complements ``sources/envelope.py`` (the from_json codec over an
already-loaded text DataFrame): the DataSource form is what a user
points at a raw landing prefix without pre-reading anything, and it
demonstrates the engine's extension point for formats Spark lacks.
Schema is server-declared per table (never inferred), passed via
options: ``.option("table", "orders").option("keys", "o_orderkey")``.

Rows are flattened to ``key cols + value cols + action`` — the shape
the M1 merge consumes. Delete tombstones carry NULL value columns.
"""

from __future__ import annotations

import datetime as dt
import glob
import json

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .envelope import envelope_schema


def flattened_schema(table: str, key_cols: list[str]) -> StructType:
    """key cols first, then value cols (nullable: a delete tombstone
    carries none), then the action flag."""
    env = envelope_schema(table, key_cols)
    values = [StructField(f.name, f.dataType, True) for f in env["value"].dataType]
    return StructType(
        [*env["key"].dataType, *values, StructField("action", StringType(), False)]
    )


def _convert(value, data_type):
    """JSON scalar → Python value matching the declared Spark type."""
    if value is None:
        return None
    if isinstance(data_type, TimestampType):
        return dt.datetime.fromisoformat(str(value).replace("T", " "))
    if isinstance(data_type, DateType):
        return dt.date.fromisoformat(str(value)[:10])
    if isinstance(data_type, (LongType, IntegerType)):
        return int(value)
    if isinstance(data_type, DoubleType):
        return float(value)
    if isinstance(data_type, BooleanType):
        return bool(value)
    return str(value)


class CD2EnvelopeDataSource(DataSource):
    """``format("cd2_envelope")`` — options: path, table, keys (csv)."""

    @classmethod
    def name(cls) -> str:
        return "cd2_envelope"

    def schema(self) -> StructType:
        return flattened_schema(
            self.options["table"], self.options["keys"].split(",")
        )

    def reader(self, schema: StructType) -> "CD2EnvelopeReader":
        return CD2EnvelopeReader(dict(self.options), schema)

    def simpleStreamReader(self, schema: StructType) -> "CD2EnvelopeStreamReader":
        return CD2EnvelopeStreamReader(dict(self.options), schema)


class CD2EnvelopeReader(DataSourceReader):
    def __init__(self, options: dict, schema: StructType) -> None:
        self._path = options["path"]
        self._schema = schema
        self._key_cols = options["keys"].split(",")

    def partitions(self):
        # One part-file = one partition = one decode task (header note).
        parts = [InputPartition(f) for f in _list_parts(self._path)]
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        yield from _parse_file(partition.value, self._schema, self._key_cols)


def _parse_file(path: str, schema: StructType, key_cols: list[str]):
    """Decode one JSONL part-file into flattened typed tuples. An
    undecodable line (malformed JSON, missing meta/action, a value that
    does not convert) fails the task, like the S4 schema gate."""
    fields = schema.fields[:-1]  # all but the action flag
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            key = rec.get("key") or {}
            val = rec.get("value") or {}
            yield tuple(
                _convert(
                    key.get(f.name) if f.name in key_cols else val.get(f.name),
                    f.dataType,
                )
                for f in fields
            ) + (rec["meta"]["action"],)


def _list_parts(path: str) -> list[str]:
    pattern = path
    if not any(ch in pattern for ch in "*?["):
        pattern = pattern.rstrip("/") + "/*"
    return sorted(f for f in glob.glob(pattern) if not f.endswith("_SUCCESS"))


class CD2EnvelopeStreamReader(SimpleDataSourceStreamReader):
    """Streaming form: one micro-batch = one part-file, in filename
    order — the pull-based ``since/until`` window of the reference's
    incremental API. The offset ({"consumed": n}) lives in the query
    checkpoint, so a restarted query resumes at the first unconsumed
    part: the exact analog of the reference persisting its sync token
    transactionally with the merge (SURVEY §3.1).
    """

    def __init__(self, options: dict, schema: StructType) -> None:
        self._path = options["path"]
        self._schema = schema
        self._key_cols = options["keys"].split(",")

    def initialOffset(self) -> dict:
        return {"consumed": 0}

    def read(self, start: dict):
        files = _list_parts(self._path)
        n = start["consumed"]
        if n >= len(files):
            return iter([]), {"consumed": n}
        rows = list(_parse_file(files[n], self._schema, self._key_cols))
        return iter(rows), {"consumed": n + 1}

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: parts are immutable landed files


def register(spark) -> None:
    """Idempotent format registration for the current session."""
    spark.dataSource.register(CD2EnvelopeDataSource)
