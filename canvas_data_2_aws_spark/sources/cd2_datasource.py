"""Custom Python DataSource for CD2 envelope JSONL (Spark 4 API).

``spark.read.format("cd2_envelope")`` over a directory of incremental
part-files, mirroring the reference pipeline's ingest unit: the DAP
job returns N downloadable parts, and this source maps **one part-file
to one input partition**, so decode parallelism equals part count —
the same parallelism contract as the reference's download pool
(SURVEY §3.1) expressed through Spark's planner.

The source only lists and splits: it yields each record line as it
landed, in one ``value string`` column, and takes one option,
``path``. Typing is ``sources/envelope.py::decode_envelope``'s job,
the one decoder of the wire format, so a record decodes the same
whichever way it was read:

    decode_envelope(spark.read.format("cd2_envelope").option("path", p)
                    .load(), table, keys, record_col="value")
"""

from __future__ import annotations

import glob

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class CD2EnvelopeDataSource(DataSource):
    """``format("cd2_envelope")`` — one option: path."""

    @classmethod
    def name(cls) -> str:
        return "cd2_envelope"

    def schema(self) -> str:
        return "value string"

    def reader(self, schema) -> "CD2EnvelopeReader":
        return CD2EnvelopeReader(self.options["path"])

    def simpleStreamReader(self, schema) -> "CD2EnvelopeStreamReader":
        return CD2EnvelopeStreamReader(self.options["path"])


class CD2EnvelopeReader(DataSourceReader):
    def __init__(self, path: str) -> None:
        self._path = path

    def partitions(self):
        # One part-file = one partition = one decode task (header note).
        parts = [InputPartition(f) for f in _list_parts(self._path)]
        return parts or [InputPartition(None)]

    def read(self, partition):
        if partition.value is None:
            return
        yield from _lines(partition.value)


def _lines(path: str):
    """One part-file's non-blank record lines, as 1-tuples. A malformed
    line is yielded like any other: it decodes to a null key, which the
    replica writers refuse."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield (line,)


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

    def __init__(self, path: str) -> None:
        self._path = path

    def initialOffset(self) -> dict:
        return {"consumed": 0}

    def read(self, start: dict):
        files = _list_parts(self._path)
        n = start["consumed"]
        if n >= len(files):
            return iter([]), {"consumed": n}
        return iter(list(_lines(files[n]))), {"consumed": n + 1}

    def commit(self, end: dict) -> None:
        pass  # nothing to clean up: parts are immutable landed files


def register(spark) -> None:
    """Idempotent format registration for the current session."""
    spark.dataSource.register(CD2EnvelopeDataSource)
