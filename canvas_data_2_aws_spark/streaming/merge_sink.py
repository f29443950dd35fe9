"""Streaming merge sink (SURVEY §2.9 T6): per-micro-batch incremental
merge via ``foreachBatch`` — the streaming form of the reference's
``syncdb`` loop. Each micro-batch is one changeset, merged and
committed by the same call as the CLI's ``syncdb`` (``replica.sync``):
compacted once, refused if it holds a null key or an action other than
``U``/``D``, skipped if its batch id is a replay, and committed as one
replica version.

``table_dir`` is a replica root of its own: its manifest's ``snapshot``
entry lives in ``v{N}`` (and the IVM sink's ``view`` entry in
``view_v{N}``), and one manifest swap advances both. Everything stays
distributed: no driver-side collect of table data, ever.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import replica, session
from ..operators.merge import ACTION_UPSERT, aggregate_view, fold_view


class StreamingMergeSink:
    """Maintains a replica table under ``table_dir`` from a stream of
    change records (payload columns + ``action`` + ``ts``)."""

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        keys: Sequence[str],
        compact_by: Sequence[str],
    ) -> None:
        self.spark = spark
        self.table_dir = table_dir
        self.keys = list(keys)
        self.compact_by = list(compact_by)

    def current_version(self) -> int:
        return replica.load(self.table_dir)["version"]

    def current_snapshot(self) -> DataFrame:
        return replica.read(self.spark, self.table_dir, "snapshot")

    def bootstrap(self, base: DataFrame) -> None:
        """M2 snapshot load: commit the first version of a fresh
        ``table_dir``."""
        replica.transact(self.table_dir, {"snapshot": ("v", session.sized(base))})

    # -- the merge loop ----------------------------------------------------

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        """Merge and commit one micro-batch, plus whatever
        :meth:`_derived` computes from its compacted rows, as one
        replica version (``replica.sync``)."""
        replica.sync(
            self.table_dir,
            {"snapshot": ("v", changes, self.keys, self.compact_by)},
            batch_id=batch_id,
            derive=self._derived,
        )

    def _derived(self, base: DataFrame, compacted: DataFrame) -> dict:
        """Entries committed alongside each batch's snapshot."""
        return {}

    def vacuum(self) -> list[str]:
        """Reclaim superseded versions; every commit already does."""
        return replica.vacuum(self.table_dir)

    def start(self, change_stream: DataFrame, checkpoint_dir: str):
        """Run the merge loop with AvailableNow (bounded replay)."""
        return (
            change_stream.writeStream.foreachBatch(self.apply_batch)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )


class StreamingIVMSink(StreamingMergeSink):
    """Merge sink that ALSO maintains an aggregate view incrementally —
    the streaming materialized view: each micro-batch updates the
    replica (M1) and delta-updates a (group → count, sum) view from
    the same changeset, never re-aggregating the replica. View deltas
    use exact decimal sums, so the maintained view equals a fresh
    recompute bit-for-bit (asserted in tests/test_streaming.py);
    snapshot and view are two entries of one replica transaction.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        keys: Sequence[str],
        compact_by: Sequence[str],
        view_group: str,
        view_sum: str,
    ) -> None:
        super().__init__(spark, table_dir, keys, compact_by)
        self.view_group = view_group
        self.view_sum = view_sum

    def current_view(self) -> DataFrame:
        return replica.read(self.spark, self.table_dir, "view")

    def bootstrap(self, base: DataFrame) -> None:
        base = session.sized(base)
        view = aggregate_view(base, self.view_group, self.view_sum)
        replica.transact(
            self.table_dir, {"view": ("view_v", view), "snapshot": ("v", base)}
        )

    def _derived(self, base: DataFrame, compacted: DataFrame) -> dict:
        """The view delta, read from the same compacted frame as the
        replica merge: the upserts are the new images, and the base rows
        of every touched key the old ones."""
        old = base.join(compacted.select(*self.keys), self.keys, "left_semi")
        new_view = fold_view(
            replica.read(base.sparkSession, self.table_dir, "view"),
            compacted.where(F.col("action") == ACTION_UPSERT),
            old,
            self.view_group,
            self.view_sum,
        )
        return {"view": ("view_v", new_view)}
