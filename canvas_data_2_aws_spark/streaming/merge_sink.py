"""Streaming merge sink (SURVEY §2.9 T6): per-micro-batch incremental
merge via ``foreachBatch`` — the streaming form of the reference's
``syncdb`` loop. Each micro-batch is one changeset; the sink compacts
it and applies it to the current replica snapshot.

Snapshot management: parquet can't be overwritten while being read, so
the sink writes copy-on-write *versioned* snapshot directories
(``v0, v1, …``) and a tiny ``_CURRENT`` pointer file — a minimal
filesystem MVCC, the same commit shape Iceberg/Delta implement with a
metadata log. Everything stays distributed: no driver-side collect of
table data, ever.
"""

from __future__ import annotations

import os
import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..operators.merge import apply_changeset, compact_changeset


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
        # Schema of each directory kind ("v", "view_v"), taken from the
        # last frame written or, after a restart, the first read: later
        # reads pass it, so no batch runs a parquet footer-inference job.
        self._schemas: dict[str, StructType] = {}

    # -- snapshot bookkeeping --------------------------------------------

    def _read(self, kind: str, version: int) -> DataFrame:
        reader = self.spark.read
        if kind in self._schemas:
            reader = reader.schema(self._schemas[kind])
        df = reader.parquet(os.path.join(self.table_dir, f"{kind}{version}"))
        self._schemas[kind] = df.schema
        return df

    def _write(self, df: DataFrame, kind: str, version: int) -> None:
        df.write.mode("overwrite").parquet(
            os.path.join(self.table_dir, f"{kind}{version}")
        )
        self._schemas[kind] = df.schema

    def _pointer(self) -> str:
        return os.path.join(self.table_dir, "_CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._pointer()) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return -1

    def current_snapshot(self) -> DataFrame:
        v = self.current_version()
        if v < 0:
            raise FileNotFoundError(f"no snapshot committed under {self.table_dir}")
        return self._read("v", v)

    def bootstrap(self, base: DataFrame) -> None:
        """M2 snapshot load: commit version 0."""
        self._write(base, "v", 0)
        self._commit(0)

    def _commit(self, version: int) -> None:
        with open(self._pointer(), "w") as fh:
            fh.write(str(version))

    # -- the merge loop ----------------------------------------------------

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        compacted = compact_changeset(changes, self.keys, self.compact_by)
        self._merge(self.current_snapshot(), compacted, self.current_version() + 1)

    def _merge(self, base: DataFrame, compacted: DataFrame, version: int) -> None:
        """Write ``base`` with the compacted changeset applied as
        snapshot ``version`` and commit it."""
        self._write(apply_changeset(base, compacted, keys=self.keys), "v", version)
        self._commit(version)

    # Strict snapshot-dir pattern: a prefix match on 'v' would also
    # catch StreamingIVMSink's 'view_v{n}' directories and crash on
    # int('iew_v0').
    _SNAPSHOT_RE = re.compile(r"v(\d+)")

    def _reclaimable(self, pattern: re.Pattern, keep_last: int) -> list[int]:
        current = self.current_version()
        out = []
        for name in os.listdir(self.table_dir):
            m = pattern.fullmatch(name)
            if m and int(m.group(1)) <= current - keep_last:
                out.append(int(m.group(1)))
        return sorted(out)

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Drop snapshot versions older than the ``keep_last`` most
        recent (the lakehouse VACUUM analog — a 100 TB replica cannot
        retain every version). Never touches the committed pointer's
        version; returns the versions removed."""
        import shutil

        removed = self._reclaimable(self._SNAPSHOT_RE, keep_last)
        for v in removed:
            shutil.rmtree(os.path.join(self.table_dir, f"v{v}"))
        return removed

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
    snapshot and view commit under the same MVCC version.
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

    # -- view bookkeeping --------------------------------------------------

    def _view_agg(self, df: DataFrame) -> DataFrame:
        from pyspark.sql import functions as F

        return df.groupBy(self.view_group).agg(
            F.count("*").alias("n"),
            F.sum(F.col(self.view_sum).cast("decimal(28,6)")).alias("total"),
        )

    def current_view(self) -> DataFrame:
        return self._read("view_v", self.current_version())

    def bootstrap(self, base: DataFrame) -> None:
        self._write(self._view_agg(base), "view_v", 0)
        super().bootstrap(base)

    def apply_batch(self, changes: DataFrame, batch_id: int) -> None:
        """Compact the batch once; the view delta and the replica merge
        both read that one compacted frame."""
        from pyspark.sql import functions as F

        base = self.current_snapshot()
        old_view = self.current_view()
        compacted = compact_changeset(changes, self.keys, self.compact_by)
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
            old_view.unionByName(adds)
            .unionByName(rems)
            .groupBy(self.view_group)
            .agg(F.sum("n").alias("n"), F.sum("total").alias("total"))
            .where(F.col("n") > 0)
        )
        next_v = self.current_version() + 1
        self._write(new_view, "view_v", next_v)
        # The merge commits next_v — the view written above becomes
        # visible atomically with its snapshot.
        self._merge(base, compacted, next_v)

    _VIEW_RE = re.compile(r"view_v(\d+)")

    def vacuum(self, keep_last: int = 2) -> list[int]:
        """Also reclaim view snapshots — each table version has a
        paired ``view_v{n}`` that must age out with it."""
        import shutil

        for v in self._reclaimable(self._VIEW_RE, keep_last):
            shutil.rmtree(os.path.join(self.table_dir, f"view_v{v}"))
        return super().vacuum(keep_last)
