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

from pyspark.sql import DataFrame, Observation, SparkSession, Window, functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from ..operators.merge import ACTION_DELETE, ACTION_UPSERT, compact_changeset
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


def encode_envelope(
    df: DataFrame, key_cols: list[str], action_col: str = "action", ts=None
) -> DataFrame:
    """Serialize typed rows into envelope JSONL strings (the inverse
    codec — used to publish a changeset and to round-trip-test the
    parser without fixture change files)."""
    data_cols = [c for c in df.columns if c != action_col]
    key = F.struct(*[F.col(c) for c in key_cols])
    # Deletes are key-only tombstones on the wire (the value block is
    # absent); to_json drops the null struct, from_json restores nulls.
    value = F.when(F.col(action_col) == "D", F.lit(None)).otherwise(
        F.struct(*[F.col(c) for c in data_cols if c not in key_cols])
    )
    meta = F.struct(
        F.col(action_col).alias("action"),
        (F.lit(ts) if ts is not None else F.lit(0)).cast("long").alias("ts"),
    )
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
    passthrough: list[str] | None = None,
) -> DataFrame:
    """Parse envelope JSONL into typed flat columns + ``action``.

    Strict schema application (S4): unknown fields are dropped, type
    drift surfaces as nulls (a null key is counted by
    :func:`observe_rejects`) — the Spark analog of the reference regenerating DDL on a schema
    version bump.

    ``ts_col`` surfaces ``meta.ts`` under that name (aliased, never
    bare ``ts`` — value blocks may carry their own ``ts`` column) so
    callers can compact multi-change-per-PK batches by arrival time
    (M3). ``passthrough`` forwards caller-added columns (e.g. a file
    sequence number) unchanged.
    """
    schema = envelope_schema(table, key_cols)
    extra = list(passthrough or [])
    parsed = records.select(
        *[F.col(c) for c in extra],
        F.from_json(F.col(record_col), schema).alias("env"),
    )
    cols = ["env.key.*", "env.value.*", "env.meta.action"]
    out = parsed.select(*cols, *extra)
    if ts_col is not None:
        out = parsed.select(
            *cols, F.col("env.meta.ts").alias(ts_col), *extra
        )
    return out


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
    """
    records = spark.read.text(path)
    passthrough = []
    if seq_col is not None:
        records = records.withColumn(
            seq_col,
            F.struct(
                F.col("_metadata.file_path"),
                F.col("_metadata.file_block_start"),
                F.monotonically_increasing_id(),
            ),
        )
        passthrough = [seq_col]
    return decode_envelope(
        records,
        table,
        key_cols,
        record_col="value",
        ts_col=ts_col,
        passthrough=passthrough,
    )


def observe_rejects(
    changes: DataFrame, key_cols: list[str], order_by: list[str]
) -> tuple[DataFrame, Observation]:
    """Compact ``changes`` (``operators.merge.compact_changeset``) and
    count its malformed records as a side effect of whatever action
    next runs the compacted frame: a record whose key decodes to null
    (a truncated or non-JSON line parses to a null envelope) or whose
    ``meta.action`` is neither ``U`` nor ``D``. Read the count from the
    returned observation's ``rejected`` metric after that action; no
    extra Spark job runs for it.

    The records are counted after compaction, above its lazy
    checkpoint: an observation of the raw records would complete when
    the checkpoint is created, before an input that needs no shuffle
    has been read, and would report 0. So each record carries its key's
    count of malformed records, and the one record compaction keeps
    per key carries it past the checkpoint."""
    bad = ~F.coalesce(F.col("action").isin(ACTION_UPSERT, ACTION_DELETE), F.lit(False))
    for k in key_cols:
        bad = bad | F.col(k).isNull()
    # The compaction window's spec, so both run in one Window operator.
    whole_key = (
        Window.partitionBy(*key_cols)
        .orderBy(*[F.col(c).desc() for c in order_by])
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    flagged = changes.withColumn("_rejected", F.count_if(bad).over(whole_key))
    compacted = compact_changeset(flagged, key_cols, order_by)
    obs = Observation()
    total = F.coalesce(F.sum("_rejected"), F.lit(0)).alias("rejected")
    return compacted.observe(obs, total), obs
