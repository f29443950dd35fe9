"""Streaming merge sink (SURVEY §2.9 T6): per-micro-batch incremental
merge via ``foreachBatch`` — the streaming form of the reference's
``syncdb`` loop. Each micro-batch is one changeset; the sink compacts
it, applies it to the current replica snapshot and commits the result
through the same replica transaction as the CLI (``replica.transact``).

``table_dir`` is a replica root of its own: its manifest's ``snapshot``
entry lives in ``v{N}`` (and the IVM sink's ``view`` entry in
``view_v{N}``), and one manifest swap advances both. The manifest also
records the last applied batch id, so a micro-batch that Spark replays
after a crash between the commit and its checkpoint is skipped rather
than merged again. A batch holding a null key or an action other than
``U``/``D`` is refused: it raises and commits nothing. Everything stays
distributed: no driver-side collect of table data, ever.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, functions as F

from .. import replica
from ..operators.merge import apply_changeset, observe_rejects


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
        replica.transact(self.table_dir, {"snapshot": ("v", base)})

    # -- the merge loop ----------------------------------------------------

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        """Compact the batch once and commit the merged snapshot, plus
        whatever :meth:`_derived` computes from the same compacted
        frame, as one replica version. The committed frames are read in
        the batch's own session (``foreachBatch`` hands over a clone):
        an observation completes only in the session that runs it."""
        last = replica.load(self.table_dir).get("batch_id")
        if last is not None and batch_id <= last:
            return  # a replay of a committed batch: apply it once
        compacted, rejects = observe_rejects(changes, self.keys, self.compact_by)
        base = replica.read(changes.sparkSession, self.table_dir, "snapshot")
        frames = self._derived(base, compacted)
        frames["snapshot"] = ("v", apply_changeset(base, compacted, keys=self.keys))
        replica.transact(self.table_dir, frames, batch_id=batch_id, rejects=[rejects])

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

    def _view_agg(self, df: DataFrame) -> DataFrame:
        return df.groupBy(self.view_group).agg(
            F.count("*").alias("n"),
            F.sum(F.col(self.view_sum).cast("decimal(28,6)")).alias("total"),
        )

    def current_view(self) -> DataFrame:
        return replica.read(self.spark, self.table_dir, "view")

    def bootstrap(self, base: DataFrame) -> None:
        replica.transact(
            self.table_dir,
            {"view": ("view_v", self._view_agg(base)), "snapshot": ("v", base)},
        )

    def _derived(self, base: DataFrame, compacted: DataFrame) -> dict:
        """The view delta, read from the same compacted frame as the
        replica merge."""
        dec = F.col(self.view_sum).cast("decimal(28,6)")
        adds = compacted.where(F.col("action") == "U").select(
            self.view_group,
            F.lit(1).cast("long").alias("n"),
            dec.alias("total"),
        )
        # Compaction leaves one row per key, so the keys need no distinct.
        touched = compacted.select(*self.keys)
        rems = base.join(touched, self.keys, "left_semi").select(
            self.view_group,
            F.lit(-1).cast("long").alias("n"),
            (-dec).alias("total"),
        )
        new_view = (
            replica.read(base.sparkSession, self.table_dir, "view")
            .unionByName(adds)
            .unionByName(rems)
            .groupBy(self.view_group)
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
            .where(F.col("n") > 0)
        )
        return {"view": ("view_v", new_view)}
