"""Graded merge + exact-dedup queries (SURVEY §2.8 M1, M4).

The changeset is derived deterministically from ``orders`` inside the
query (FIXTURES.md — no changeset file exists on disk): updates for
keys %10==0 (excluding delete keys), deletes for %97==0, plus 100
fresh inserts cloned from the smallest keys. Both the Spark plan and
the DuckDB oracle build the identical changeset, so the merged replica
hash-matches. Each engine spells it once (``derive_changeset``,
``_CHANGESET_CTES``), and the oracles merge it through one ``_merged``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.merge import ACTION_UPSERT, aggregate_view, apply_changeset, fold_view
from ..operators import ranks as R
from ..registry import graded
from ..session import load_table, materialize_outliving

_ORDER_COLS = (
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
)

# The changeset derivation (``derive_changeset``) as DuckDB CTEs:
# ``mx`` and ``ins`` build the fresh inserts, ``changeset`` the rows.
_CHANGESET_CTES = """mx AS (SELECT MAX(o_orderkey) AS m FROM orders),
ins AS (
  SELECT mx.m + ROW_NUMBER() OVER (ORDER BY s.o_orderkey) AS o_orderkey,
         s.o_custkey, s.o_orderstatus, s.o_totalprice, s.o_orderdate,
         s.o_orderpriority, 'U' AS action
  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 100) s, mx
),
changeset AS (
  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus,
         o_totalprice + 1.0 AS o_totalprice, o_orderdate, o_orderpriority,
         'U' AS action
  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
         o_orderpriority, 'D' AS action
  FROM orders WHERE o_orderkey % 97 = 0
  UNION ALL
  SELECT * FROM ins
)"""


def _merged(changes: str = "changeset") -> str:
    """The merge step (M1) as the DuckDB ``merged`` CTE: the ``orders``
    rows whose key ``changes`` does not touch, then its ``U`` rows."""
    cols = ", ".join(_ORDER_COLS)
    return f"""merged AS (
  SELECT {cols} FROM orders
  WHERE o_orderkey NOT IN (SELECT o_orderkey FROM {changes})
  UNION ALL
  SELECT {cols} FROM {changes} WHERE action = 'U'
)"""


_MERGE_ORACLE = f"WITH {_CHANGESET_CTES},\n{_merged()}\nSELECT * FROM merged"


def derive_changeset(orders: DataFrame) -> DataFrame:
    """Deterministic synthetic changeset over ``orders`` (FIXTURES.md).

    The frame is lazy: each read re-runs the three-branch derivation.
    A caller that reads it more than once checkpoints it
    (``localCheckpoint(eager=False)``), so it is derived once; in
    production the changeset arrives as data (sources/envelope), and
    the changeset-sized checkpoint mirrors that shape."""
    key = F.col("o_orderkey")
    updates = (
        orders.where((key % 10 == 0) & (key % 97 != 0))
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
        .withColumn("action", F.lit("U"))
    )
    deletes = orders.where(key % 97 == 0).withColumn("action", F.lit("D"))
    max_key = orders.agg(F.max("o_orderkey").alias("m"))
    smallest = R.attach_unit_group(orders.orderBy("o_orderkey").limit(100))
    inserts = (
        smallest.withColumn(
            "_rn", F.row_number().over(
                # 100-row frame; unit group keeps the spec non-empty
                Window.partitionBy(R.UNIT_GROUP).orderBy("o_orderkey")
            )
        )
        .crossJoin(F.broadcast(max_key))
        .withColumn("o_orderkey", F.col("m") + F.col("_rn"))
        .withColumn("action", F.lit("U"))
        .select(*_ORDER_COLS, "action")
    )
    return (
        updates.select(*_ORDER_COLS, "action")
        .unionByName(deletes.select(*_ORDER_COLS, "action"))
        .unionByName(inserts)
    )


@graded("merge_upsert_apply", oracle=_MERGE_ORACLE)
def merge_upsert_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core syncdb semantics: apply a keyed changeset to the replica
    via the join-based merge plan (operators/merge.py)."""
    orders = load_table(spark, sf_dir, "orders")
    # read twice by apply_changeset (touched keys, upserts)
    changeset = derive_changeset(orders).localCheckpoint(eager=False)
    return apply_changeset(orders, changeset, keys=["o_orderkey"])


@graded("merge_bucketed_base", oracle=_MERGE_ORACLE)
def merge_bucketed_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same M1 merge over the SCALE.md §1 at-rest layout: the base
    is bootstrapped as a bucketBy(PK)+sortBy catalog table
    (operators/merge.snapshot_load_bucketed), so the anti-join reads
    it already hash-partitioned on the key — zero base-side Exchange
    (plan pinned in tests/test_bucketing.py). Identical oracle to
    merge_upsert_apply: the layout is proven LOSSLESS through the
    graded gate, not just plan-shaped."""
    import shutil
    import tempfile
    import uuid

    from ..operators.merge import snapshot_load_bucketed

    orders = load_table(spark, sf_dir, "orders")
    path = tempfile.mkdtemp(prefix="cda2_bmerge_")
    # Unique per-invocation table name: concurrent runs sharing a
    # metastore — pytest-xdist, a bench alongside the suite — must not
    # clobber each other's table. uuid4 (not the tempdir suffix: its
    # alphabet includes '_', so split('_')[-1] could truncate it).
    table = f"cda2_bucketed_merge_base_{uuid.uuid4().hex}"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        base = snapshot_load_bucketed(
            orders, table, ["o_orderkey"], path, buckets=8
        )
        # read twice by apply_changeset
        changeset = derive_changeset(orders).localCheckpoint(eager=False)
        merged = apply_changeset(base, changeset, keys=["o_orderkey"])
        # outlives the temp-table drop without a driver-sized collect
        return materialize_outliving(merged, path)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")
        shutil.rmtree(path, ignore_errors=True)


# --- M4: exact dedup (aggregate-stable form) ----------------------------------

_DEDUP_ORACLE = """
SELECT
  lang,
  COUNT(*) AS n_rows,
  COUNT(DISTINCT text) AS n_distinct_texts,
  COUNT(DISTINCT source) AS n_sources,
  CAST(COUNT(*) - COUNT(DISTINCT text) AS BIGINT) AS n_exact_dups
FROM documents
GROUP BY lang
"""


@graded("dedup_exact", oracle=_DEDUP_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate accounting per language.

    ``dropDuplicates`` row *choice* is nondeterministic, so the graded
    form aggregates (SURVEY §2.8 M4): rows vs distinct texts. Fixture
    texts are globally unique, so n_exact_dups is 0 — the invariant the
    oracle verifies; real dedup row-selection is exercised in unit
    tests via groupBy().agg(min(...)).
    """
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("text").alias("n_distinct_texts"),
        F.countDistinct("source").alias("n_sources"),
        (F.count("*") - F.countDistinct("text")).alias("n_exact_dups"),
    )


# --- S2: JSONL envelope codec round-trip ---------------------------------------

# The changeset as the codec round-trips it: a delete is a key-only
# tombstone, so its value columns decode to NULL.
_ENVELOPE_ORACLE = f"""
WITH {_CHANGESET_CTES}
SELECT o_orderkey,
       CASE WHEN action = 'U' THEN o_custkey END AS o_custkey,
       CASE WHEN action = 'U' THEN o_orderstatus END AS o_orderstatus,
       CASE WHEN action = 'U' THEN o_totalprice END AS o_totalprice,
       CASE WHEN action = 'U' THEN o_orderpriority END AS o_orderpriority,
       action
FROM changeset
"""


@graded("jsonl_envelope_roundtrip", oracle=_ENVELOPE_ORACLE)
def jsonl_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: the CD2 incremental envelope codec, proven by round-trip —
    derive the changeset, serialize every record to the
    {key,value,meta} JSONL wire shape, parse it back with the strict
    server-declared schema (sources/envelope.py), and emit the typed
    rows. The oracle sees only the changeset definition: a codec bug
    (field drop, type drift, double mangling) breaks the hash.

    o_orderdate is excluded from the graded projection: timestamps
    round-trip through ISO JSON strings exactly, but exercising that
    here would tie the test to JSON timestamp formatting instead of
    envelope structure; tests/test_envelope.py covers it."""
    from ..sources.envelope import decode_envelope, encode_envelope

    orders = load_table(spark, sf_dir, "orders")
    changeset = derive_changeset(orders).drop("o_orderdate")
    wire = encode_envelope(changeset, key_cols=["o_orderkey"])
    decoded = decode_envelope(wire, table="orders", key_cols=["o_orderkey"])
    return decoded.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority", "action",
    )


# --- EXT: incremental aggregate maintenance (IVM over the merge) ----------------

# The maintained view: per-status order count + decimal revenue. The
# incremental plan never rescans the base fact table's values beyond a
# keyed probe for the changed keys' OLD rows — at 100 TB the base agg
# is stored view state and the probe is partition-pruned, so the cost
# scales with |changeset|, not |base|.
_IVM_ORACLE = f"""
WITH {_CHANGESET_CTES},
{_merged()}
SELECT o_orderstatus, COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM merged GROUP BY o_orderstatus
"""


def _as_graded(view: DataFrame, group: str) -> DataFrame:
    """A maintained (group → n, total) view in the graded shape."""
    return view.select(
        group, F.col("n").alias("n_orders"), F.col("total").cast("double").alias("revenue")
    )


@graded("merge_incremental_agg", oracle=_IVM_ORACLE)
def merge_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: the per-status (count, revenue)
    view is updated by DELTAS — +row for every upsert, −row for every
    changed key's old image — instead of re-aggregating the merged
    table (``operators.merge.fold_view``, the fold the streaming IVM
    sink runs). The oracle recomputes from scratch on the merged
    replica; exact decimal arithmetic makes delta-maintenance ≡
    recompute bit-for-bit."""
    orders = load_table(spark, sf_dir, "orders")
    # read twice: the old-image probe and the upserts
    cs = derive_changeset(orders).localCheckpoint(eager=False)
    # −delta: old image of every key the changeset touches (updates and
    # deletes; insert keys probe nothing). Keyed semi-probe, not a scan.
    old = orders.join(cs.select("o_orderkey"), "o_orderkey", "left_semi")
    return _as_graded(
        fold_view(
            # Stored view state (in production: read back, not recomputed).
            aggregate_view(orders, "o_orderstatus", "o_totalprice"),
            cs.where(F.col("action") == ACTION_UPSERT),
            old,
            "o_orderstatus",
            "o_totalprice",
        ),
        "o_orderstatus",
    )


# --- EXT: snapshot diff (replica drift audit) -----------------------------------

_SNAPDIFF_ORACLE = f"""
WITH {_CHANGESET_CTES},
{_merged()}
SELECT CASE
         WHEN b.o_orderkey IS NULL THEN 'added'
         WHEN m.o_orderkey IS NULL THEN 'removed'
         WHEN b.o_orderstatus <> m.o_orderstatus
              OR b.o_totalprice <> m.o_totalprice THEN 'changed'
         ELSE 'unchanged'
       END AS change_type,
       COUNT(*) AS n
FROM (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders) b
FULL OUTER JOIN merged m ON b.o_orderkey = m.o_orderkey
GROUP BY change_type
"""


@graded("validate_snapshot_diff", oracle=_SNAPDIFF_ORACLE)
def validate_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-to-snapshot diff: full outer join on the PK classifies
    every key as added / removed / changed / unchanged — the audit
    that proves a syncdb run applied exactly its changeset and nothing
    else. One co-partitioned full join (both sides hash on the PK);
    value comparison is exact (status string, double +1.0 is an exact
    IEEE op in both engines)."""
    from ..operators.merge import apply_changeset

    orders = load_table(spark, sf_dir, "orders")
    # read twice by apply_changeset
    changeset = derive_changeset(orders).localCheckpoint(eager=False)
    merged = apply_changeset(orders, changeset, keys=["o_orderkey"])
    b = orders.select(
        F.col("o_orderkey").alias("bk"),
        F.col("o_orderstatus").alias("bs"),
        F.col("o_totalprice").alias("bp"),
    )
    m = merged.select(
        F.col("o_orderkey").alias("mk"),
        F.col("o_orderstatus").alias("ms"),
        F.col("o_totalprice").alias("mp"),
    )
    change = (
        F.when(F.col("bk").isNull(), "added")
        .when(F.col("mk").isNull(), "removed")
        .when(
            (F.col("bs") != F.col("ms")) | (F.col("bp") != F.col("mp")), "changed"
        )
        .otherwise("unchanged")
    )
    return (
        b.join(m, F.col("bk") == F.col("mk"), "full")
        .groupBy(change.alias("change_type"))
        .agg(F.count("*").alias("n"))
    )


# --- M1 idempotence, graded: re-applying the changeset is a no-op ---------------


@graded("merge_idempotent_reapply", oracle=_MERGE_ORACLE)
def merge_idempotent_reapply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the SAME changeset twice and grade against the
    once-applied oracle: upserts re-replace identical rows, deletes
    find nothing — syncdb retries after a partial failure must
    converge to the same replica. (Random-changeset idempotence is
    property-tested in tests/test_merge.py; this makes the guarantee
    cross-engine-checkable on the canonical changeset.)"""
    orders = load_table(spark, sf_dir, "orders")
    # read four times: twice by each apply_changeset
    changeset = derive_changeset(orders).localCheckpoint(eager=False)
    once = apply_changeset(orders, changeset, keys=["o_orderkey"])
    return apply_changeset(once, changeset, keys=["o_orderkey"])


# --- S2 via the Spark 4 Python DataSource API -----------------------------------


@graded("source_python_datasource", oracle=_ENVELOPE_ORACLE)
def source_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The envelope changeset read back through the CUSTOM Python
    DataSource (``format("cd2_envelope")``,
    sources/cd2_datasource.py): changeset → JSONL part-files on disk →
    planner maps one part to one input partition → the raw record
    lines → ``decode_envelope`` → typed flat rows. Graded against the
    same changeset-definition oracle as jsonl_envelope_roundtrip: both
    read through one codec, so a record decodes the same whichever way
    it was read. o_orderdate is excluded for the same reason as there
    (JSON timestamp formatting is the codec test's concern, not the
    source's)."""
    import shutil
    import tempfile

    from ..sources.cd2_datasource import register
    from ..sources.envelope import decode_envelope, encode_envelope

    orders = load_table(spark, sf_dir, "orders")
    changeset = derive_changeset(orders).localCheckpoint(eager=False)
    # written twice, once per part-file
    wire = encode_envelope(changeset.drop("o_orderdate"), key_cols=["o_orderkey"])
    out = tempfile.mkdtemp(prefix="cda2_pysrc_")
    try:
        # Two part-files → two source partitions (the reference's
        # multi-part download unit).
        wire.where(F.crc32("record") % 2 == 0).coalesce(1).write.mode(
            "overwrite"
        ).text(f"{out}/part0")
        wire.where(F.crc32("record") % 2 == 1).coalesce(1).write.mode(
            "overwrite"
        ).text(f"{out}/part1")
        register(spark)
        records = spark.read.format("cd2_envelope").option(
            "path", f"{out}/part*/*.txt"
        ).load()
        df = decode_envelope(
            records, table="orders", key_cols=["o_orderkey"], record_col="value"
        )
        # Executor-block checkpoint (not a driver collect): changeset-
        # sized, only needs to outlive the tempdir cleanup.
        return df.select(
            "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
            "o_orderpriority", "action",
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out, ignore_errors=True)


# --- M3 standalone: changeset compaction (latest change per PK wins) ------------

# Two conflicting versions per updated key in one batch (v1 then v2,
# ordered by chg_seq); compaction must keep exactly the v2 image.
_COMPACTION_ORACLE = """
WITH versions AS (
  SELECT o_orderkey, 'X1' AS o_orderstatus, o_totalprice + 1.0 AS o_totalprice,
         1 AS chg_seq, 'U' AS action
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, 'X2' AS o_orderstatus, o_totalprice + 2.0 AS o_totalprice,
         2 AS chg_seq, 'U' AS action
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL
  SELECT o_orderkey, o_orderstatus, o_totalprice, 1 AS chg_seq, 'D' AS action
  FROM orders WHERE o_orderkey % 97 = 3
)
SELECT o_orderkey, o_orderstatus, o_totalprice, action
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderkey
                               ORDER BY chg_seq DESC) AS rn
  FROM versions
) t
WHERE rn = 1
"""


@graded("merge_compaction", oracle=_COMPACTION_ORACLE)
def merge_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3 graded standalone: a batch carrying two versions of every
    updated key collapses to the latest by change sequence
    (operators/merge.compact_changeset) — the pre-merge step without
    which upserts become arrival-order-dependent. (%97 = 3 keeps the
    delete keys disjoint from the %10 update keys, so every PK has an
    unambiguous winner.)"""
    from ..operators.merge import compact_changeset

    orders = load_table(spark, sf_dir, "orders")
    key = F.col("o_orderkey")

    def version(status: str, bump: float, seq: int):
        return (
            orders.where(key % 10 == 0)
            .select(
                "o_orderkey",
                F.lit(status).alias("o_orderstatus"),
                (F.col("o_totalprice") + bump).alias("o_totalprice"),
                F.lit(seq).alias("chg_seq"),
                F.lit("U").alias("action"),
            )
        )

    deletes = orders.where(key % 97 == 3).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.lit(1).alias("chg_seq"),
        F.lit("D").alias("action"),
    )
    versions = version("X1", 1.0, 1).unionByName(version("X2", 2.0, 2)).unionByName(
        deletes
    )
    return compact_changeset(
        versions, keys=["o_orderkey"], order_by=["chg_seq"]
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "action")


# --- EXT: tombstone retention / GC ----------------------------------------------

# Replication keeps delete tombstones so late-replayed changesets stay
# idempotent; a GC pass purges tombstones older than the retention
# horizon (here: 365 days before the newest change). Disposition is a
# pure timestamp comparison against a 1-row data-derived cutoff — the
# vacuum/GC planner of every log-structured replica.
_TOMBSTONE_ORACLE = """
WITH tomb AS (
  SELECT o_orderkey, o_orderdate FROM orders WHERE o_orderkey % 97 = 0
),
h AS (SELECT MAX(o_orderdate) - INTERVAL 365 DAY AS cutoff FROM orders)
SELECT t.o_orderkey, t.o_orderdate AS tomb_ts,
       (t.o_orderdate < h.cutoff) AS purged
FROM tomb t, h
"""


@graded("merge_tombstone_gc", oracle=_TOMBSTONE_ORACLE)
def merge_tombstone_gc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tombstone GC disposition for the derived delete set: purge
    tombstones older than the 365-day retention horizon, retain the
    rest (replay idempotence inside the horizon). The cutoff is a
    1-row broadcast; the scan is partition-prunable on the tombstone
    log's date layout at scale — GC never touches live data."""
    orders = load_table(spark, sf_dir, "orders")
    tomb = orders.where(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey", F.col("o_orderdate").alias("tomb_ts")
    )
    h = orders.agg(
        F.expr("MAX(o_orderdate) - INTERVAL 365 DAYS").alias("cutoff")
    )
    return tomb.crossJoin(F.broadcast(h)).select(
        "o_orderkey", "tomb_ts", (F.col("tomb_ts") < F.col("cutoff")).alias("purged")
    )


# --- EXT: point-in-time reconstruction (time travel) -----------------------------

# Replica state AS OF a cutoff: apply only the changes whose change
# time (here the row's order date) is ≤ the horizon — the
# time-travel/PITR read a log-structured replica serves without
# snapshots. Update/delete log only: ``o_orderkey <= m`` drops the fresh
# inserts, which carry no pre-existing key to travel over.
_TIME_TRAVEL_ORACLE = f"""
WITH {_CHANGESET_CTES},
h AS (SELECT MAX(o_orderdate) - INTERVAL 365 DAY AS cutoff FROM orders),
applied AS (
  SELECT c.* FROM changeset c, h, mx
  WHERE c.o_orderdate <= h.cutoff AND c.o_orderkey <= mx.m
),
{_merged("applied")}
SELECT * FROM merged
"""


@graded("merge_time_travel", oracle=_TIME_TRAVEL_ORACLE)
def merge_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF read: the replica with only the update/delete log up to
    the 365-day horizon applied (operators/merge.py plan, one keyed
    anti-join + union). The log is ``derive_changeset`` without its
    fresh inserts (keys above the base's max). The cutoff and max are
    one 1-row broadcast; at scale the change log is date-partitioned
    so the filter partition-prunes."""
    orders = load_table(spark, sf_dir, "orders")
    h = orders.agg(
        F.expr("MAX(o_orderdate) - INTERVAL 365 DAYS").alias("cutoff"),
        F.max("o_orderkey").alias("m"),
    )
    applied = (
        derive_changeset(orders)
        .crossJoin(F.broadcast(h))
        .where(
            (F.col("o_orderdate") <= F.col("cutoff"))
            & (F.col("o_orderkey") <= F.col("m"))
        )
        .drop("cutoff", "m")
    )
    return apply_changeset(orders, applied, keys=["o_orderkey"])


# --- EXT: changeset observability ------------------------------------------------

# The syncdb report line as a query: per-action counts, how many
# changes hit existing keys vs arrive fresh, and the net row delta
# the merge will produce — the numbers an operator checks before
# applying a batch. Pure integer counts.
_CHANGESET_STATS_ORACLE = f"""
WITH {_CHANGESET_CTES}
SELECT c.action,
       CAST(COUNT(*) AS BIGINT) AS n_changes,
       CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_existing_keys,
       CAST(COUNT(*) - COUNT(o.o_orderkey) AS BIGINT) AS n_new_keys,
       CAST(CASE WHEN c.action = 'U' THEN COUNT(*) - COUNT(o.o_orderkey)
                 ELSE -COUNT(o.o_orderkey) END AS BIGINT) AS net_row_delta
FROM changeset c LEFT JOIN orders o ON o.o_orderkey = c.o_orderkey
GROUP BY c.action
"""


@graded("merge_changeset_stats", oracle=_CHANGESET_STATS_ORACLE)
def merge_changeset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-apply changeset audit: per-action counts, existing-vs-fresh
    key split, and the net row delta — the observability row logged
    per sync. One key-join of the changeset against the base
    (bucket-aligned under the §1 layout) + a 2-key agg."""
    orders = load_table(spark, sf_dir, "orders")
    changes = derive_changeset(orders).select("o_orderkey", "action")
    base = orders.select("o_orderkey", F.lit(1).alias("hit"))
    j = changes.join(base, "o_orderkey", "left")
    return j.groupBy("action").agg(
        F.count(F.lit(1)).alias("n_changes"),
        F.count("hit").alias("n_existing_keys"),
        (F.count(F.lit(1)) - F.count("hit")).alias("n_new_keys"),
        F.when(
            F.col("action") == "U", F.count(F.lit(1)) - F.count("hit")
        )
        .otherwise(-F.count("hit"))
        .cast("long")
        .alias("net_row_delta"),
    )


# --- M1 at rest: partition-pruned merge via dynamic partition overwrite ---------

# The 100 TB form of syncdb: the replica is Hive-partitioned by month,
# a changeset touches a handful of partitions, and the merge must
# rewrite ONLY those — never the whole table. Spark's native verb is
# dynamic partition overwrite: ``mode("overwrite")`` +
# ``partitionOverwriteMode=dynamic`` replaces exactly the partitions
# present in the written frame. The changeset keeps every row's month
# (updates don't move dates here); a date-moving update would add the
# OLD row's month to the touched set — same derivation, both sides.
_DPO_ORACLE = f"""
WITH {_CHANGESET_CTES},
{_merged()}
SELECT strftime(o_orderdate, '%Y-%m') AS om,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT o_orderkey) AS n_keys,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM merged
GROUP BY om
ORDER BY om
"""


@graded("merge_partition_overwrite", oracle=_DPO_ORACLE)
def merge_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-pruned merge: month-partitioned replica at rest, base
    read restricted to the changeset's months (partition pruning), the
    same join merge as syncdb, then a dynamic-partition-overwrite
    commit that replaces only the touched month directories. The
    month list collected to the driver is the partition manifest
    (≤ #months rows — metadata, not data). Verified through the full
    write → prune → merge → overwrite → read-back cycle."""
    import os
    import shutil
    import tempfile

    orders = load_table(spark, sf_dir, "orders")
    om = F.date_format("o_orderdate", "yyyy-MM").alias("om")
    tmp = tempfile.mkdtemp(prefix="cda2_dpo_")
    # The partitioned table sits in its own subdirectory, so the result
    # materialize_outliving writes under tmp is never in its partition scan.
    table = os.path.join(tmp, "table")
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        # repartition on the partition key: one file per month instead
        # of #tasks × #months shards — the at-rest layout cmd_optimize
        # maintains
        orders.withColumn("om", om).repartition(F.col("om")).write.mode(
            "overwrite"
        ).partitionBy("om").parquet(table)
        # read three times: the month list, then twice by apply_changeset
        changeset = derive_changeset(orders).localCheckpoint(eager=False)
        months = [
            r.om for r in changeset.select(om).distinct().collect()
        ]  # partition manifest, driver-sized
        base = (
            spark.read.parquet(table).where(F.col("om").isin(months)).drop("om")
        )
        merged = apply_changeset(
            base, changeset, keys=["o_orderkey"]
        ).localCheckpoint()  # breaks lineage: the write below must not
        # depend on files it is about to replace
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        staged = merged.withColumn("om", om)
        # Dynamic overwrite only replaces partitions PRESENT in the
        # written frame: a touched month whose merged output is empty
        # (changeset deleted its every row) would silently keep its
        # stale files. Drop those directories explicitly — the surviving
        # month list is the same driver-sized partition manifest.
        surviving = {r.om for r in staged.select("om").distinct().collect()}
        for month in months:
            if month not in surviving:
                shutil.rmtree(os.path.join(table, f"om={month}"), ignore_errors=True)
        staged.repartition(F.col("om")).write.mode("overwrite").partitionBy(
            "om"
        ).parquet(table)
        final = spark.read.parquet(table)
        out = (
            final.groupBy("om")
            .agg(
                F.count("*").alias("n_rows"),
                F.countDistinct("o_orderkey").alias("n_keys"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double")
                .alias("revenue"),
            )
            .orderBy("om")
        )
        return materialize_outliving(out, tmp)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
        shutil.rmtree(tmp, ignore_errors=True)


# --- EXT M10: deletion-vector merge (positional deletes) -------------------------

# Modern lakehouse delete handling (Iceberg v2 / Delta deletion
# vectors): instead of rewriting a whole data file to drop a few rows
# (copy-on-write), persist a tiny per-file bitmap of deleted row
# POSITIONS and subtract it at read time. This query models the base
# as 1024-row files (file_id = key DIV 1024, pos = dense row number
# within the file), derives the deletes from the house changeset rule
# (o_orderkey % 97 = 0, queries/merge.derive_changeset), and reports
# per-file live/deleted counts plus the bitmap size a dense deletion
# vector would occupy vs the bytes a copy-on-write rewrite would move
# (100 B/row). The per-file window is bounded by the file size (1024)
# by construction — never corpus-scale.
_DV_FILE_ROWS = 1024
_DV_ROW_BYTES = 100

_DV_ORACLE = f"""
WITH base AS (
  SELECT o_orderkey,
         o_orderkey // {_DV_FILE_ROWS} AS file_id,
         ROW_NUMBER() OVER (PARTITION BY o_orderkey // {_DV_FILE_ROWS}
                            ORDER BY o_orderkey) - 1 AS pos,
         CASE WHEN o_orderkey % 97 = 0 THEN 1 ELSE 0 END AS is_del
  FROM orders
)
SELECT file_id,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(is_del) AS BIGINT) AS n_deleted,
       CAST(COUNT(*) - SUM(is_del) AS BIGINT) AS n_live,
       CAST(CASE WHEN SUM(is_del) > 0
                 THEN MAX(CASE WHEN is_del = 1 THEN pos END) // 8 + 1
                 ELSE 0 END AS BIGINT) AS dv_bytes,
       CAST(CASE WHEN SUM(is_del) > 0
                 THEN COUNT(*) * {_DV_ROW_BYTES} ELSE 0 END AS BIGINT)
         AS cow_rewrite_bytes
FROM base
GROUP BY file_id
ORDER BY file_id
"""


@graded("merge_deletion_vectors", oracle=_DV_ORACLE)
def merge_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deletion-vector bookkeeping for positional deletes: assign every
    base row a (file_id, pos) identity, mark the changeset deletes, and
    emit per-file live counts plus the dense-bitmap DV size against the
    copy-on-write rewrite volume. The read path this models is
    ``base ANTI JOIN dv ON (file_id, pos)`` — the anti join's right
    side is kilobytes per file regardless of corpus size, which is why
    deletion vectors beat file rewrites for trickle deletes at 100 TB.
    The row-number window partitions by file_id, so each window task
    handles ≤ {_DV_FILE_ROWS} rows at any scale."""
    orders = load_table(spark, sf_dir, "orders")
    fid = F.expr(f"o_orderkey DIV {_DV_FILE_ROWS}")
    base = orders.select(
        "o_orderkey",
        fid.alias("file_id"),
        (
            F.row_number().over(
                Window.partitionBy(fid).orderBy("o_orderkey")
            )
            - 1
        ).alias("pos"),
        F.when(F.col("o_orderkey") % 97 == 0, 1).otherwise(0).alias("is_del"),
    )
    n_del = F.sum("is_del")
    return (
        base.groupBy("file_id")
        .agg(
            F.count("*").cast("bigint").alias("n_rows"),
            n_del.cast("bigint").alias("n_deleted"),
            (F.count("*") - n_del).cast("bigint").alias("n_live"),
            F.when(
                n_del > 0,
                F.max(F.when(F.col("is_del") == 1, F.col("pos")))
                .cast("bigint")
                / 8,
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("_dv_floor"),
            F.when(n_del > 0, F.count("*") * _DV_ROW_BYTES)
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("cow_rewrite_bytes"),
        )
        .select(
            "file_id",
            "n_rows",
            "n_deleted",
            "n_live",
            F.when(
                F.col("n_deleted") > 0, F.col("_dv_floor") + 1
            )
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("dv_bytes"),
            "cow_rewrite_bytes",
        )
        .orderBy("file_id")
    )


# --- EXT M11: incremental maintenance of a JOIN view -------------------------------

# merge_incremental_agg maintains an aggregate-only view; real
# replicated marts maintain JOIN views. The delta algebra for a view
# V = orders ⋈ customer under a changeset on orders alone is
# ΔV = Δorders ⋈ customer — the unchanged dim side joins only the
# DELTA, never the full fact table: at 100 TB the maintenance cost is
# |changeset| broadcast-joined against the dim, plus a keyed probe for
# the changed keys' old images. The oracle recomputes the view from
# scratch on the merged replica; exact decimal deltas make
# maintenance ≡ recompute bit-for-bit, so the hash-match IS the proof
# of the IVM algebra.
_IVM_JOIN_ORACLE = f"""
WITH {_CHANGESET_CTES},
{_merged()}
SELECT c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(m.o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
FROM merged m JOIN customer c ON m.o_custkey = c.c_custkey
GROUP BY c.c_mktsegment
"""


@graded("merge_ivm_join_view", oracle=_IVM_JOIN_ORACLE)
def merge_ivm_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment (count, revenue) of the orders⋈customer view,
    maintained by deltas: +new image and −old image of every touched
    key, each broadcast-joined against the unchanged customer dim and
    folded into the stored per-segment state. The full fact table is
    touched only by the stored-state recompute stand-in and a keyed
    old-image probe — the delta joins scale with |changeset|."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    # read twice: the old-image probe and the upserts
    cs = derive_changeset(orders).localCheckpoint(eager=False)
    dim = F.broadcast(customer.select("c_custkey", "c_mktsegment"))

    def joined(images: DataFrame) -> DataFrame:
        return images.join(dim, images.o_custkey == dim.c_custkey)

    # ΔV⁺ = new images ⋈ dim; ΔV⁻ = old images of touched keys ⋈ dim
    # (keyed probe, not a scan).
    old = orders.join(cs.select("o_orderkey"), "o_orderkey", "left_semi")
    return _as_graded(
        fold_view(
            # Stored view state (in production: read back, not recomputed).
            aggregate_view(joined(orders), "c_mktsegment", "o_totalprice"),
            joined(cs.where(F.col("action") == ACTION_UPSERT)),
            joined(old),
            "c_mktsegment",
            "o_totalprice",
        ),
        "c_mktsegment",
    )


# --- EXT M12: equality deletes (erase-by-value) ------------------------------------

# The OTHER lakehouse delete shape (Iceberg v2 equality deletes): a
# delete keyed by column VALUE — "erase these customers everywhere" —
# written as a tiny value list, applied at read as an anti join, with
# NO knowledge of which files/positions hold the rows. The trade
# against merge_deletion_vectors' positional bitmaps: equality deletes
# are O(|values|) to WRITE (no scan at delete time — the GDPR
# erasure path), but every reader pays the anti-join probe until
# compaction rewrites; positional DVs cost a scan at delete time and
# are nearly free to read. This query quantifies that trade per file:
# how many rows each file loses to an erased-customer list and what
# fraction of files a compaction must touch.
_EQDEL_ORACLE = """
WITH del AS (
  SELECT c_custkey FROM customer WHERE c_custkey % 250 = 0
),
base AS (
  SELECT o_orderkey // 1024 AS file_id,
         CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
              THEN 1 ELSE 0 END AS is_del
  FROM orders
),
per_file AS (
  SELECT file_id,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(is_del) AS BIGINT) AS n_erased
  FROM base GROUP BY file_id
)
SELECT CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_delete_keys,
       CAST(COUNT(*) AS BIGINT) AS n_files,
       CAST(SUM(CASE WHEN n_erased > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_files_touched,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(n_erased) AS BIGINT) AS n_erased,
       ROUND(CAST(SUM(CASE WHEN n_erased > 0 THEN n_rows ELSE 0 END)
                  AS DOUBLE) / SUM(n_rows), 4) AS compact_rewrite_frac
FROM per_file
"""


@graded("merge_equality_deletes", oracle=_EQDEL_ORACLE)
def merge_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality-delete impact audit: a value-keyed erasure list (every
    250th customer) anti-probed against the fact table, rolled up to
    the per-file blast radius and the fraction of bytes a compaction
    must rewrite to retire the delete list. The erasure list broadcasts
    (it is the small side BY DESIGN — an erasure request, not a scan
    product); the fact side is one scan + one file-grain aggregation,
    and at 100 TB the per-file counts ARE the compaction planner's
    input."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    dels = customer.where(F.col("c_custkey") % 250 == 0).select("c_custkey")
    n_del = dels.agg(F.count("*").cast("bigint").alias("n_delete_keys"))
    flagged = orders.join(
        F.broadcast(dels.withColumnRenamed("c_custkey", "_dk")),
        F.col("o_custkey") == F.col("_dk"),
        "left",
    ).select(
        F.expr("o_orderkey DIV 1024").alias("file_id"),
        F.when(F.col("_dk").isNotNull(), 1).otherwise(0).alias("is_del"),
    )
    per_file = flagged.groupBy("file_id").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("is_del").cast("bigint").alias("n_erased"),
    )
    return (
        per_file.agg(
            F.count("*").cast("bigint").alias("n_files"),
            F.sum(F.when(F.col("n_erased") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_files_touched"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
            F.sum("n_erased").cast("bigint").alias("n_erased"),
            F.round(
                F.sum(
                    F.when(F.col("n_erased") > 0, F.col("n_rows")).otherwise(0)
                ).cast("double")
                / F.sum("n_rows"),
                4,
            ).alias("compact_rewrite_frac"),
        )
        .crossJoin(F.broadcast(n_del))
        .select(
            "n_delete_keys",
            "n_files",
            "n_files_touched",
            "n_rows",
            "n_erased",
            "compact_rewrite_frac",
        )
    )
