"""Incremental merge — the reference's core dataflow (SURVEY §2.8 M1–M3).

The reference's ``syncdb`` applies keyed changesets to a replica table:
``meta.action='U'`` rows replace/insert by primary key, ``'D'`` rows
delete (tombstones). Multiple changes to one PK within a batch collapse
to the latest by ``meta.ts`` *before* applying, or the merge becomes
order-dependent (M3).

No lakehouse table format ships in this environment, so the merge is
the join-based plan:

    compact → base LEFT ANTI changeset-keys → UNION upsert rows

At production scale the same semantics are one ``MERGE INTO`` on
Iceberg/Delta; the plan below is what those engines execute underneath
(minus their transactional commit). Both sides shuffle once on the PK;
with the base bucketed by PK at rest (SCALE.md) only the (small)
changeset shuffles.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

ACTION_UPSERT = "U"
ACTION_DELETE = "D"


def compact_changeset(
    changes: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
) -> DataFrame:
    """Keep only the latest change per PK (M3).

    ``order_by`` columns order changes within a key (typically
    ``meta.ts`` plus a unique tie-break); the lexicographically last
    row wins — matching the reference's apply-in-arrival-order
    semantics collapsed to its final state.

    The result is a lazy local checkpoint: the first action that needs
    it decodes, sorts and shuffles the changeset once, and every later
    consumer (the merge's touched-key anti-join and its upsert union,
    a sink's view delta) reads the materialised rows instead of
    planning its own exchange over the raw input.
    """
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])
    return (
        changes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
    )


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    action_col: str = "action",
    compact_by: Sequence[str] | None = None,
) -> DataFrame:
    """Apply a compacted changeset to a base table (M1).

    Every base row whose PK appears in the changeset is dropped
    (left anti join — covers both replaced and deleted keys), then the
    upsert payload is unioned back in. Result invariants (property-
    tested): PK-unique if base was; deleted keys absent; updated keys
    carry exactly the changeset payload.
    """
    if compact_by is not None:
        changes = compact_changeset(changes, keys, compact_by)
    payload_cols = [c for c in base.columns]
    touched_keys = changes.select(*keys)
    survivors = base.join(touched_keys, on=list(keys), how="left_anti")
    upserts = changes.where(F.col(action_col) == ACTION_UPSERT).select(*payload_cols)
    return survivors.unionByName(upserts)


def snapshot_load_bucketed(
    df: DataFrame,
    table: str,
    keys: Sequence[str],
    path: str,
    buckets: int = 32,
) -> DataFrame:
    """M2 bootstrap into a PK-bucketed catalog table — the SCALE.md §1
    at-rest layout that makes every subsequent M1 merge shuffle-free on
    the base side.

    ``bucketBy(keys)`` + ``sortBy(keys)`` records the hash partitioning
    in the table catalog, so the merge's anti-join reads the base
    already partitioned on the PK: only the (small) changeset shuffles,
    and the base — the 100 TB side — never moves.  Pinned by
    tests/test_bucketing.py::test_merge_base_side_is_shuffle_free.

    Returns the catalog-backed DataFrame (``spark.table``), which is
    what carries the bucket metadata — a plain ``spark.read.parquet``
    of the same files would NOT.
    """
    spark = df.sparkSession
    (
        df.write.bucketBy(buckets, *keys)
        .sortBy(*keys)
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )
    return spark.table(table)
