"""CD2/DAP incremental-record envelope codec (SURVEY §1.1, §2.1 S2).

The reference's incremental files carry JSONL records shaped
``{"key": {...pk cols...}, "value": {...non-pk cols...},
"meta": {"action": "U"|"D", "ts": ...}}`` — upserts carry the full
row, deletes only the key (tombstone). This module is the Spark-native
codec for that wire format: typed ``StructType`` parse via
``from_json`` (never ``inferSchema`` — the schema is server-declared,
SURVEY §1.1), flattened to columns ready for the M1 merge
(operators/merge.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..schemas import TABLES


def envelope_schema(table: str, key_cols: list[str]) -> StructType:
    """Server-declared envelope schema for one table: key/value split
    on the PK columns, plus the action/ts meta block."""
    base = TABLES[table]
    key_fields = [f for f in base.fields if f.name in key_cols]
    val_fields = [f for f in base.fields if f.name not in key_cols]
    return StructType(
        [
            StructField("key", StructType(key_fields), False),
            StructField("value", StructType(val_fields), True),
            StructField(
                "meta",
                StructType(
                    [
                        StructField("action", StringType(), False),
                        StructField("ts", LongType(), True),
                    ]
                ),
                False,
            ),
        ]
    )


def encode_envelope(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Serialize typed rows plus their ``action`` into envelope JSONL
    strings (the inverse codec — used to publish a changeset and to
    round-trip-test the parser without fixture change files). Every
    record carries ``meta.ts`` 0."""
    data_cols = [c for c in df.columns if c != "action"]
    key = F.struct(*[F.col(c) for c in key_cols])
    # Deletes are key-only tombstones on the wire (the value block is
    # absent); to_json drops the null struct, from_json restores nulls.
    value = F.when(F.col("action") == "D", F.lit(None)).otherwise(
        F.struct(*[F.col(c) for c in data_cols if c not in key_cols])
    )
    meta = F.struct(F.col("action"), F.lit(0).cast("long").alias("ts"))
    return df.select(
        F.to_json(F.struct(key.alias("key"), value.alias("value"), meta.alias("meta")))
        .alias("record")
    )


def decode_envelope(
    records: DataFrame,
    table: str,
    key_cols: list[str],
    record_col: str = "record",
    ts_col: str | None = None,
) -> DataFrame:
    """Parse envelope JSONL into typed flat columns + ``action``.

    This is the only decoder of the wire format: ``syncdb``, the
    streams and the ``cd2_envelope`` DataSource (whose rows are the raw
    record lines, ``record_col="value"``) all type records here.

    Value-type drift and unknown fields are not refused yet (ROADMAP.md,
    "Refuse schema drift"): ``from_json`` turns a value that does not
    parse as its declared type into null and drops a field the schema
    does not declare. A line that does not parse at all decodes to a
    null key, which ``operators.merge.observe_rejects`` counts.

    ``ts_col`` surfaces ``meta.ts`` under that name (aliased, never
    bare ``ts`` — value blocks may carry their own ``ts`` column) so
    callers can compact multi-change-per-PK batches by arrival time
    (M3). Every input column other than ``record_col`` (e.g. a file
    sequence number) is forwarded unchanged.
    """
    schema = envelope_schema(table, key_cols)
    extra = [c for c in records.columns if c != record_col]
    ts = [] if ts_col is None else [F.col("env.meta.ts").alias(ts_col)]
    return records.select(
        *extra, F.from_json(F.col(record_col), schema).alias("env")
    ).select("env.key.*", "env.value.*", "env.meta.action", *ts, *extra)


def read_changeset_jsonl(
    spark: SparkSession,
    path: str,
    table: str,
    key_cols: list[str],
    ts_col: str | None = None,
    seq_col: str | None = None,
) -> DataFrame:
    """Read an incremental JSONL change file from disk (S2+S6 batch
    form; the streaming twin is ``spark.readStream.text`` + the same
    ``decode_envelope``).

    ``seq_col`` attaches each record's position in declared file order
    — ``(file path, split start, id within the split)`` — as the
    tie-break when two changes to one PK share a ``meta.ts``: a later
    part file wins, and within a file a later line wins. A bare
    ``monotonically_increasing_id`` would follow Spark's split packing,
    which orders splits by size, not by file.

    A directory is listed recursively, so the part subdirectories that
    ``.write.text(f"{path}/part{i}")`` lays down are all read; without
    it Spark lists no file below a subdirectory that is not ``k=v``.
    """
    records = spark.read.option("recursiveFileLookup", "true").text(path)
    if seq_col is not None:
        records = records.withColumn(
            seq_col,
            F.struct(
                F.col("_metadata.file_path"),
                F.col("_metadata.file_block_start"),
                F.monotonically_increasing_id(),
            ),
        )
    return decode_envelope(records, table, key_cols, record_col="value", ts_col=ts_col)
