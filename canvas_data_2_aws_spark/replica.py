"""Replica-root manifest: the one commit protocol of every replica writer.

The reference pipeline commits each table's new high-water token in one
Postgres transaction, so a crashed sync never leaves half the replica
advanced `[public: DAP]`. Parquet directories have no transactions, so
this module supplies the standard lakehouse-style substitute. Every
writer commits through it: ``initdb``, ``optimize`` and the sinks'
bootstrap through :func:`transact`, and ``syncdb`` and the streaming
sinks through :func:`sync`, the one merge-and-commit step of a
changeset, whether it came by cron or by stream:

- ``_manifest.json`` at the replica root is the single source of truth.
  It holds a monotonically increasing version, the sync token, the last
  applied micro-batch id, and per entry its data directory and the
  schema it was written with.
- A transaction stages every frame into a NEW directory (the caller's
  prefix plus the new version: ``orders__v7``, ``v7``, ``view_v7``),
  then swaps the manifest via write-temp + fsync + ``os.replace``,
  which is atomic on POSIX. A crash at ANY earlier point leaves the
  prior manifest, and the directories it references, untouched.
- :func:`sync` compacts each changeset once, counts its malformed
  records on that same pass, merges it into the current base and
  stages the result; if the count is not zero it refuses before the
  swap. A batch id at or below the manifest's is a replay, skipped.
- After the swap, :func:`vacuum` reclaims every directory of a live
  entry's prefix family that the manifest no longer references: the
  superseded version and any staged leftover of a crashed transaction.
- Readers resolve through :func:`table_dir`; :func:`read` adds the
  recorded schema, so no Spark job infers it from a parquet footer.

Single-process by design (matching the reference's one-scheduler
deployment); concurrent writers would need a lock file or a real table
format (Delta/Iceberg), which is the stated 100 TB path in SCALE.md.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Callable, Iterable, Mapping, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType

from .operators.merge import apply_changeset, observe_rejects
from .session import sized

MANIFEST = "_manifest.json"
_DIGITS = "0123456789"


class Rejected(ValueError):
    """A :func:`sync` changeset held malformed records (as
    ``operators.merge.observe_rejects`` defines them); nothing was
    committed."""


def load(root: str) -> dict:
    """Current manifest, or a fresh empty one if the root has none."""
    path = os.path.join(root, MANIFEST)
    if os.path.exists(path):
        with open(path, "r", encoding="utf-8") as fh:
            return json.load(fh)
    return {"version": 0, "token": None, "tables": {}}


def table_dir(root: str, table: str) -> str:
    """A table's current data directory, resolved through the manifest."""
    return os.path.join(root, load(root)["tables"][table]["dir"])


def read(spark: SparkSession, root: str, table: str) -> DataFrame:
    """A table's current data, read with the schema it was written with
    (an entry committed without one falls back to the parquet footer)."""
    entry = load(root)["tables"][table]
    reader = spark.read
    if "schema" in entry:
        reader = reader.schema(StructType.fromJson(entry["schema"]))
    return reader.parquet(os.path.join(root, entry["dir"]))


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
    ``os.replace`` — the all-entries-or-nothing commit point."""
    os.makedirs(root, exist_ok=True)
    tmp = os.path.join(root, MANIFEST + ".tmp")
    with open(tmp, "w", encoding="utf-8") as fh:
        json.dump(manifest, fh, indent=2, sort_keys=True)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, os.path.join(root, MANIFEST))


def transact(root: str, frames: Mapping[str, tuple[str, DataFrame]]) -> dict[str, int]:
    """Commit ``frames`` (entry name -> (directory prefix, frame)) as the
    replica's next version, all or nothing, and return each entry's row
    count as observed on its write.

    Every frame is staged to ``{prefix}{version}`` before the manifest
    swap. Entries not in ``frames`` keep their directories, and the
    manifest's token and batch id are left as they are (only
    :func:`sync` advances them). The superseded versions are vacuumed
    after the swap."""
    return _commit(root, frames, None, None, rejects=())


def sync(
    root: str,
    changesets: Mapping[str, tuple[str, DataFrame, Sequence[str], Sequence[str]]],
    *,
    token: str | None = None,
    batch_id: int | None = None,
    derive: Callable[[DataFrame, DataFrame], dict] | None = None,
) -> dict[str, int]:
    """Merge one changeset per entry (entry name -> (directory prefix,
    decoded changes, keys, order_by)) and commit every merged entry as
    one :func:`transact` version; return the observed row counts.

    Each changeset is compacted once to its latest change per key, and
    its malformed records are counted on that pass
    (``operators.merge.observe_rejects``). The base is read in the
    changeset's own session: the count completes only in the session
    that runs it. ``derive(base, compacted)`` returns further entries
    to commit alongside, computed from the same compacted rows. Every
    frame is committed at ``session.sized`` its bytes. If any
    record was malformed, :class:`Rejected` is raised after staging and
    nothing is committed. A ``batch_id`` at or below the manifest's is
    a replay of a committed batch: nothing is read and ``{}`` returned."""
    if batch_id is not None and batch_id <= load(root).get("batch_id", -1):
        return {}
    frames, rejects = {}, []
    for name, (prefix, changes, keys, order_by) in changesets.items():
        compacted, obs = observe_rejects(changes, keys, order_by)
        rejects.append(obs)
        base = read(changes.sparkSession, root, name)
        if derive is not None:
            frames.update(derive(base, compacted))
        frames[name] = (prefix, apply_changeset(base, compacted, keys))
    frames = {name: (prefix, sized(df)) for name, (prefix, df) in frames.items()}
    return _commit(root, frames, token, batch_id, rejects)


def _commit(
    root: str,
    frames: Mapping[str, tuple[str, DataFrame]],
    token: str | None,
    batch_id: int | None,
    rejects: Iterable[Observation],
) -> dict[str, int]:
    """Stage, refuse, swap and vacuum. Each reject observation must
    have run as part of the staged writes: ``Observation.get`` waits
    for one, so :func:`sync` alone passes them."""
    man = load(root)
    version = man["version"] + 1
    rows, staged = {}, {}
    for name, (prefix, df) in frames.items():
        rel = f"{prefix}{version}"
        rows[name] = write(df, os.path.join(root, rel))
        staged[name] = {"dir": rel, "schema": df.schema.jsonValue()}
    bad = sum(obs.get["rejected"] for obs in rejects)
    if bad:
        raise Rejected(f"refused {bad} malformed change record(s); nothing committed")
    man["tables"].update(staged)
    man["version"] = version
    if token is not None:
        man["token"] = token
    if batch_id is not None:
        man["batch_id"] = batch_id
    commit(root, man)
    vacuum(root)
    return rows


def vacuum(root: str) -> list[str]:
    """Delete the directories of each live entry's prefix family (its
    ``dir`` without the version digits) that the manifest does not
    reference: superseded versions, and staged leftovers of a crashed
    transaction. Returns the removed directory names."""
    live = {e["dir"] for e in load(root)["tables"].values()}
    families = {d.rstrip(_DIGITS) for d in live if d[-1:].isdigit()}
    removed = []
    for name in sorted(os.listdir(root)):
        full = os.path.join(root, name)
        stem = name.rstrip(_DIGITS)
        if stem != name and stem in families and name not in live and os.path.isdir(full):
            shutil.rmtree(full, ignore_errors=True)
            removed.append(name)
    return removed
