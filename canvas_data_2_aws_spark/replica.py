"""Replica-root manifest: atomic multi-table commits for the sync CLI.

The reference pipeline commits each table's new high-water token in one
Postgres transaction, so a crashed sync never leaves half the replica
advanced `[public: DAP]`. Parquet directories have no transactions, so
this module supplies the standard lakehouse-style substitute:

- ``_manifest.json`` at the replica root is the single source of truth
  mapping table name -> current data directory (plus the sync token and
  a monotonically increasing version).
- Every mutation (syncdb, optimize) writes NEW directories
  (``{table}__v{N}``), then swaps the manifest via write-temp +
  ``os.replace`` — atomic on POSIX. A crash at ANY earlier point leaves
  the prior manifest (and the directories it references) untouched;
  the staged directories are garbage collected by :func:`vacuum`.
- Readers resolve through :func:`table_dir` (:func:`read` adds the
  declared schema); replicas bootstrapped by older layouts (no
  manifest) fall back to the plain ``{table}`` path.
- Writers stage through :func:`write`, which returns the row count it
  observed while writing, so no verb reads its output back to count it.

Single-process by design (matching the reference's one-scheduler
deployment); concurrent writers would need a lock file or a real table
format (Delta/Iceberg), which is the stated 100 TB path in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from . import schemas

MANIFEST = "_manifest.json"


def load(root: str) -> dict:
    """Current manifest, or a fresh empty one if the root has none."""
    path = os.path.join(root, MANIFEST)
    if os.path.exists(path):
        with open(path, "r", encoding="utf-8") as fh:
            return json.load(fh)
    return {"version": 0, "token": None, "tables": {}}


def has_manifest(root: str) -> bool:
    return os.path.exists(os.path.join(root, MANIFEST))


def table_dir(root: str, table: str) -> str:
    """Resolve a table's current data directory through the manifest
    (falling back to the plain ``{root}/{table}`` layout)."""
    man = load(root)
    rel = man["tables"].get(table, {}).get("dir", table)
    return os.path.join(root, rel)


def read(spark: SparkSession, root: str, table: str) -> DataFrame:
    """A table's current data, read with its declared schema: no Spark
    job infers the schema from a parquet footer."""
    return spark.read.schema(schemas.TABLES[table]).parquet(table_dir(root, table))


def write(df: DataFrame, path: str) -> int:
    """Write ``df`` as parquet to ``path`` and return its row count,
    observed while the write runs rather than by reading the files
    back."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(path)
    return obs.get["rows"]


def commit(root: str, manifest: dict) -> None:
    """Atomically replace the manifest: write a temp file, fsync, then
    ``os.replace`` — the all-tables-or-nothing commit point."""
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, MANIFEST + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(root, MANIFEST))


def vacuum(root: str) -> list[str]:
    """Delete data directories not referenced by the current manifest —
    staged leftovers from a crashed sync, or superseded versions whose
    post-commit cleanup was interrupted. No-op without a manifest
    (legacy plain layout has no bookkeeping to trust). Returns the
    removed directory names."""
    if not has_manifest(root):
        return []
    man = load(root)
    live = {e["dir"] for e in man["tables"].values()}
    removed = []
    for name in os.listdir(root):
        full = os.path.join(root, name)
        if not os.path.isdir(full):
            continue
        # Only reclaim names this module could have created: the plain
        # table dir of a managed table, or any staged version of one.
        stem = name.split("__v")[0]
        if stem not in man["tables"]:
            continue
        if name not in live:
            shutil.rmtree(full, ignore_errors=True)
            removed.append(name)
    return removed
