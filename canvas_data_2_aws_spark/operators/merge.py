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
(minus their transactional commit). The changeset shuffles into the
compaction window only when ``session.partitions_for`` gives it more
than one partition, that is above the split Spark's file scan would
take for its bytes (4 MiB at the default ``openCostInBytes``): a
smaller one, such as a ~1 % ``syncdb`` cycle or a micro-batch, is
coalesced to one partition and compacted in one task with no Exchange.
On a ~1 % changeset the anti-join plans as a ``BroadcastHashJoin
LeftAnti`` on the compacted (checkpointed) keys: the keys broadcast and
the base is scanned once, unshuffled. A changeset too large to
broadcast shuffles, and then the base shuffles on the PK too, unless it
is bucketed by PK at rest (``snapshot_load_bucketed``, SCALE.md), which
keeps its side shuffle-free. Malformed change records are counted over
the compaction's own window (:func:`observe_rejects`), so a writer can
refuse them without an extra job. A (group → n, total) view over the
table is maintained from the same changeset by :func:`fold_view`.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Observation, Window, WindowSpec, functions as F

from ..session import sized

ACTION_UPSERT = "U"
ACTION_DELETE = "D"


def _latest_first(keys: Sequence[str], order_by: Sequence[str]) -> WindowSpec:
    """The compaction window: each key's changes, latest first. Compaction
    and :func:`observe_rejects` both use this one spec, so Spark evaluates
    them in one Window operator."""
    return Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_by])


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
    return (
        changes.withColumn("_rn", F.row_number().over(_latest_first(keys, order_by)))
        .where(F.col("_rn") == 1)
        .drop("_rn")
        .localCheckpoint(eager=False)
    )


def observe_rejects(
    changes: DataFrame, keys: Sequence[str], order_by: Sequence[str]
) -> tuple[DataFrame, Observation]:
    """Compact ``changes`` (:func:`compact_changeset`) and count its
    malformed records as a side effect of whatever action next runs the
    compacted frame. A record is malformed when a key column is null (a
    truncated or non-JSON line decodes to a null envelope) or its
    ``action`` is neither ``U`` nor ``D``. Read the count from the
    returned observation's ``rejected`` metric after that action; no
    extra Spark job runs for it. ``replica.sync`` refuses the commit
    when it is non-zero.

    ``changes`` is first coalesced to ``session.sized`` its estimated
    bytes. Under one scan split (4 MiB at the default open cost) that
    is one partition, which already satisfies the window's clustering,
    so the compaction runs in one task with no Exchange; above it, the
    changeset is hash-shuffled on the keys into the window.

    The records are counted after compaction, above its lazy
    checkpoint: an observation of the raw records would complete when
    the checkpoint is created, before an input that needs no shuffle
    has been read, and would report 0. The coalesced changeset is
    exactly such an input. So each record carries its key's count of
    malformed records, and the one record compaction keeps per key
    carries it past the checkpoint."""
    bad = ~F.coalesce(F.col("action").isin(ACTION_UPSERT, ACTION_DELETE), F.lit(False))
    for k in keys:
        bad = bad | F.col(k).isNull()
    whole_key = _latest_first(keys, order_by).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    flagged = sized(changes).withColumn("_rejected", F.count_if(bad).over(whole_key))
    obs = Observation()
    total = F.coalesce(F.sum("_rejected"), F.lit(0)).alias("rejected")
    return compact_changeset(flagged, keys, order_by).observe(obs, total), obs


def apply_changeset(
    base: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
) -> DataFrame:
    """Apply a compacted changeset to a base table (M1).

    Every base row whose PK appears in the changeset is dropped
    (left anti join — covers both replaced and deleted keys), then the
    upsert payload is unioned back in. Result invariants (property-
    tested): PK-unique if base was; deleted keys absent; updated keys
    carry exactly the changeset payload.

    Both frames must belong to one SparkSession: an observation on
    the merged frame (:func:`observe_rejects`) completes only in the
    session that runs it, so a mixed plan would leave its reader
    waiting forever. A mix raises :class:`ValueError`.
    """
    if not base.sparkSession._jsparkSession.equals(changes.sparkSession._jsparkSession):
        raise ValueError(
            "apply_changeset: base and changes belong to different SparkSessions"
        )
    survivors = base.join(changes.select(*keys), on=list(keys), how="left_anti")
    upserts = changes.where(F.col("action") == ACTION_UPSERT).select(*base.columns)
    return survivors.unionByName(upserts)


# The exact decimal every (group -> n, total) view sums in: a delta-
# maintained view then equals a fresh recompute bit-for-bit.
_VIEW_SUM = "decimal(28,6)"


def aggregate_view(rows: DataFrame, group: str, measure: str) -> DataFrame:
    """The stored state of a (group → n, total) view over ``rows``: each
    group's row count and exact decimal sum of ``measure``. This is the
    view's bootstrap; :func:`fold_view` maintains it from then on."""
    return rows.groupBy(group).agg(
        F.count("*").alias("n"),
        F.sum(F.col(measure).cast(_VIEW_SUM)).alias("total"),
    )


def fold_view(
    view: DataFrame,
    new_images: DataFrame,
    old_images: DataFrame,
    group: str,
    measure: str,
) -> DataFrame:
    """Fold one changeset into a stored :func:`aggregate_view` without
    re-aggregating the table: each new image (an upserted row) adds +1
    and +measure to its group, each old image (the base row of a touched
    key, updated or deleted) adds −1 and −measure. Groups maintained to
    zero rows are dropped, as a recompute would never produce them."""
    m = F.col(measure).cast(_VIEW_SUM)
    adds = new_images.select(group, F.lit(1).cast("long").alias("n"), m.alias("total"))
    rems = old_images.select(group, F.lit(-1).cast("long").alias("n"), (-m).alias("total"))
    return (
        view.unionByName(adds)
        .unionByName(rems)
        .groupBy(group)
        .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
        .where(F.col("n") > 0)
    )


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
