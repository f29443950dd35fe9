"""Joins (SURVEY §2.3 J1–J9).

Join-strategy notes for the 100 TB plan:
- fact⋈fact (orders⋈lineitem) shuffles on the key — acceptable because
  both sides are large; bucketing both tables by orderkey at rest
  removes the exchange entirely (see SCALE.md).
- dim legs (region/nation/supplier/customer-filtered) broadcast —
  explicitly hinted where the dim is guaranteed small, else AQE's
  runtime size check does it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dsum, oracle_dsum
from ..registry import graded
from ..session import load_table

# --- J1/J2: inner equi-join + aggregation (TPC-H Q3 shape, flagship join) ----

_Q3_ORACLE = f"""
SELECT
  l_orderkey,
  {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue')},
  o_orderdate,
  o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


@graded("join_inner_agg", oracle=_Q3_ORACLE)
def join_inner_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping-priority shape: filtered dim ⋈ fact ⋈ fact → top-10.

    The filtered customer side is small → broadcast to both fact scans
    (hinted; AQE would also pick it up). lineitem⋈orders stays a
    shuffled join on the natural key.
    """
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    return (
        lineitem.where(F.col("l_shipdate") > cutoff)
        .join(
            orders.where(F.col("o_orderdate") < cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum("l_extendedprice * (1 - l_discount)", "revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --- J2 explicit: broadcast dim chain (region→nation→supplier rollup) ---------

_BCAST_ORACLE = f"""
SELECT
  r_name,
  n_name,
  COUNT(*) AS n_items,
  {oracle_dsum('l_extendedprice * (1 - l_discount)', 'revenue')}
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


@graded("join_broadcast_dim", oracle=_BCAST_ORACLE)
def join_broadcast_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-join rollup with every dim leg broadcast — zero shuffles on
    the fact table until the final (tiny) aggregation exchange."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    dim = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("s_suppkey", "n_name", "r_name")
    )
    return (
        lineitem.join(F.broadcast(dim), lineitem.l_suppkey == dim.s_suppkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_extendedprice * (1 - l_discount)", "revenue"),
        )
    )


# --- J3: left outer ------------------------------------------------------------

_LEFT_ORACLE = """
SELECT c_custkey, c_mktsegment, o_orderkey, o_totalprice
FROM customer
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000.0) big
  ON c_custkey = o_custkey
"""


@graded("join_left_outer", oracle=_LEFT_ORACLE)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preserve all customers; attach only their very large orders."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    big = orders.where(F.col("o_totalprice") > 400000.0)
    return customer.join(
        big, customer.c_custkey == big.o_custkey, "left"
    ).select("c_custkey", "c_mktsegment", "o_orderkey", "o_totalprice")


# --- J4: full outer ------------------------------------------------------------

_FULL_ORACLE = """
SELECT
  COALESCE(f.custkey, o.custkey) AS custkey,
  f.n_finished,
  o.n_open
FROM (SELECT o_custkey AS custkey, COUNT(*) AS n_finished
        FROM orders WHERE o_orderstatus = 'F' GROUP BY o_custkey) f
FULL OUTER JOIN (SELECT o_custkey AS custkey, COUNT(*) AS n_open
        FROM orders WHERE o_orderstatus = 'O' GROUP BY o_custkey) o
  ON f.custkey = o.custkey
"""


@graded("join_full_outer", oracle=_FULL_ORACLE)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preserve both sides: per-customer finished vs open order counts."""
    orders = load_table(spark, sf_dir, "orders")

    def per_status(status: str, alias: str) -> DataFrame:
        return (
            orders.where(F.col("o_orderstatus") == status)
            .groupBy(F.col("o_custkey").alias("custkey"))
            .agg(F.count("*").alias(alias))
        )

    f = per_status("F", "n_finished")
    o = per_status("O", "n_open")
    return f.join(o, f.custkey == o.custkey, "full").select(
        F.coalesce(f.custkey, o.custkey).alias("custkey"),
        "n_finished",
        "n_open",
    )


# --- J5: left semi ---------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
)
"""


@graded("join_semi", oracle=_SEMI_ORACLE)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence filter: customers holding a pending ('P') order."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pending = orders.where(F.col("o_orderstatus") == "P")
    return customer.join(
        pending, customer.c_custkey == pending.o_custkey, "left_semi"
    ).select("c_custkey", "c_name", "c_acctbal")


# --- J6: left anti ----------------------------------------------------------------

_ANTI_ORACLE = """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderstatus = 'P'
)
"""


@graded("join_anti", oracle=_ANTI_ORACLE)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Non-existence filter — also the delete-application primitive of
    the incremental merge (SURVEY §2.8 M1)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    pending = orders.where(F.col("o_orderstatus") == "P")
    return customer.join(
        pending, customer.c_custkey == pending.o_custkey, "left_anti"
    ).select("c_custkey", "c_name", "c_acctbal")


# --- J8: range join (equi key + band predicate) -------------------------------------

_RANGE_ORACLE = """
SELECT l_orderkey, l_linenumber, o_orderdate, l_shipdate
FROM lineitem
JOIN orders
  ON l_orderkey = o_orderkey
 AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
"""


@graded("join_range", oracle=_RANGE_ORACLE)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join. The equi key keeps it a hash/sort-merge join
    with the band as a post-probe residual — never a nested-loop
    cartesian (SURVEY §2.3 J8: 'always keep an equi key')."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cond = (
        (lineitem.l_orderkey == orders.o_orderkey)
        & (lineitem.l_shipdate >= orders.o_orderdate)
        & (lineitem.l_shipdate <= F.expr("o_orderdate + INTERVAL 90 DAY"))
    )
    return lineitem.join(orders, cond).select(
        "l_orderkey", "l_linenumber", "o_orderdate", "l_shipdate"
    )


# --- J1 at depth: TPC-H Q5-shape five-way star join ----------------------------

_FIVE_WAY_ORACLE = f"""
SELECT n.n_name,
       {oracle_dsum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
FROM region r
JOIN nation n   ON n.n_regionkey = r.r_regionkey
JOIN customer c ON c.c_nationkey = n.n_nationkey
JOIN orders o   ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
"""


@graded("join_five_way", oracle=_FIVE_WAY_ORACLE)
def join_five_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-supplier revenue by nation (TPC-H Q5 shape): a 6-table
    star join with a region filter. The scale-relevant properties:
    region/nation/supplier broadcast (no shuffle), the region filter
    prunes before the fact joins (Catalyst pushes it through the join
    chain), and only customer⋈orders⋈lineitem shuffle on their keys —
    AQE reorders/re-sizes the exchanges at runtime."""
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        lineitem.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(customer, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(dsum("l_extendedprice * (1 - l_discount)", "revenue"))
    )


# --- skew-mitigated twin of the Q3 join (salted, same oracle) -------------------


@graded("join_salted_skew", oracle=_Q3_ORACLE)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Q3 join executed through operators/skew.salted_join:
    lineitem⋈orders spreads each order key over 8 deterministic salts
    (small side replicated per salt) before the shuffle. Graded
    against the SAME oracle as join_inner_agg — skew mitigation must
    be invisible in the result, visible only in partition balance
    (equivalence on hand-skewed frames: tests/test_skew.py)."""
    from ..operators.skew import salted_join

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit("1998-01-01").cast("timestamp")
    cust = customer.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    li = lineitem.where(F.col("l_shipdate") > cutoff).withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    od = (
        orders.where(F.col("o_orderdate") < cutoff)
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
    )
    joined = salted_join(li, od, on=["o_orderkey"], n_salts=8)
    return (
        joined.groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(dsum("l_extendedprice * (1 - l_discount)", "revenue"))
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            "revenue",
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --- null-safe equality join (<=> / IS NOT DISTINCT FROM) -----------------------

# Nullable join keys silently drop rows under plain equality (NULL =
# NULL is NULL) — the bug class that corrupts merges on tables with
# nullable natural keys. The null-safe form matches NULL to NULL.
_NULLSAFE_ORACLE = """
WITH a AS (
  SELECT o_orderkey, NULLIF(o_orderkey % 5, 0) AS grp FROM orders
  WHERE o_orderkey % 16 = 0
),
b AS (
  SELECT NULLIF(n, 0) AS grp, 100 + n AS payload
  FROM (SELECT unnest(generate_series(0, 4)) AS n)
)
SELECT a.o_orderkey, a.grp, b.payload
FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
"""


@graded("join_null_safe", oracle=_NULLSAFE_ORACLE)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equi join (Spark ``<=>`` ≡ SQL IS NOT DISTINCT FROM):
    rows with NULL group keys still pair with the NULL dimension row.
    Still a hash join — null-safe equality remains an equi-key, no
    nested-loop fallback."""
    o = load_table(spark, sf_dir, "orders").where("o_orderkey % 16 = 0")
    a = o.select(
        "o_orderkey", F.nullif(F.col("o_orderkey") % 5, F.lit(0)).alias("grp")
    )
    b = spark.range(0, 5).select(
        F.nullif(F.col("id"), F.lit(0)).alias("bgrp"),
        (F.col("id") + 100).alias("payload"),
    )
    return (
        a.join(F.broadcast(b), a["grp"].eqNullSafe(b["bgrp"]))
        .select("o_orderkey", "grp", "payload")
    )


# --- interval overlap join, bucketized ------------------------------------------

# "Errors inside purchase windows": purchase events open a
# deterministic validity window (15–104 min from the integer cents of
# the value), error events open a 10-min window; pairs that overlap
# within a user are joined. The Spark side is the SCALABLE form: each
# interval explodes to the hour buckets it covers, the join is a plain
# equi hash join on (user, bucket), and a pair is emitted only in the
# bucket holding the later start — exactly-once without a distinct.
# The oracle states the same result as the naive theta join.
_INTERVAL_OVERLAP_ORACLE = """
WITH p AS (
  SELECT user_id, event_id AS p_id, ts AS p_start,
         ts + INTERVAL 1 MINUTE
            * (CAST(round(value * 100, 0) AS BIGINT) % 90 + 15) AS p_end
  FROM events WHERE event_type = 'purchase'
),
e AS (
  SELECT user_id, event_id AS e_id, ts AS e_start,
         ts + INTERVAL 10 MINUTE AS e_end
  FROM events WHERE event_type = 'error'
)
SELECT p.user_id, p.p_id, e.e_id,
       (epoch_us(LEAST(p.p_end, e.e_end))
        - epoch_us(GREATEST(p.p_start, e.e_start))) // 1000000 AS overlap_sec
FROM p JOIN e
  ON p.user_id = e.user_id
 AND p.p_start <= e.e_end AND e.e_start <= p.p_end
"""


@graded("join_interval_overlap", oracle=_INTERVAL_OVERLAP_ORACLE)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval overlap as an equi join: bucketize time (1 h), explode
    each interval to its covered buckets, hash-join on (user, bucket),
    and keep a pair only in the bucket of the later interval start —
    each overlapping pair survives in exactly one bucket, so there is
    no distinct and no O(n²) per-user theta scan. At 100 TB the
    bucket width trades replication (intervals span few buckets)
    against bucket population; durations here span ≤ 2 buckets."""
    ev = load_table(spark, sf_dir, "events")
    W = 3600
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("p_id"),
        F.col("ts").alias("p_start"),
        F.expr(
            "ts + make_interval(0, 0, 0, 0, 0,"
            " CAST(round(value * 100, 0) AS BIGINT) % 90 + 15, 0)"
        ).alias("p_end"),
    )
    e = ev.where(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("e_id"),
        F.col("ts").alias("e_start"),
        F.expr("ts + interval 10 minutes").alias("e_end"),
    )

    def burst(df: DataFrame, s: str, t: str) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.explode(
                F.sequence(
                    F.floor(F.unix_timestamp(s) / W),
                    F.floor(F.unix_timestamp(t) / W),
                )
            ),
        )

    pb = burst(p, "p_start", "p_end")
    eb = burst(e, "e_start", "e_end")
    later_start = F.greatest("p_start", "e_start")
    return (
        pb.join(eb, ["user_id", "bucket"])
        .where(
            (F.col("p_start") <= F.col("e_end"))
            & (F.col("e_start") <= F.col("p_end"))
            # emit-once: only the bucket containing the later start
            & (F.floor(F.unix_timestamp(later_start) / W) == F.col("bucket"))
        )
        .select(
            "user_id",
            "p_id",
            "e_id",
            # exact µs arithmetic: date_diff('second') counts boundary
            # crossings in DuckDB while timestampdiff floors elapsed
            # time — integer µs division agrees everywhere
            F.expr(
                "(unix_micros(least(p_end, e_end))"
                " - unix_micros(greatest(p_start, e_start))) DIV 1000000"
            ).alias("overlap_sec"),
        )
    )


# --- EXT J10: Bloom-filter semi-join prefilter -----------------------------------

# The 100 TB scan-reduction workhorse: instead of shuffling the whole
# fact side into a semi join, broadcast a FIXED-SIZE bit set built from
# the dim keys and drop non-matching fact rows at the scan. Spark's
# optimizer injects this automatically as a runtime filter
# (spark.sql.optimizer.runtime.bloomFilter.enabled) but the sketch it
# uses is not reproducible cross-engine, so this graded query builds
# the Bloom filter explicitly from an md5 hash family (k=3 probes,
# m = 16 bits/key) — byte-identical in Spark and DuckDB, which makes
# the false-positive behaviour itself hash-checkable. Sizing m
# proportionally to the build count keeps the measured fp_rate
# scale-invariant (~(1-e^{-3/16})^3 ≈ 0.5%) at every sf.
_BLOOM_K = 3
_BLOOM_BITS_PER_KEY = 16

_BLOOM_POS_SQL = (
    "CAST(concat('0x', substring(md5('bloom:' || CAST({j} AS VARCHAR) || ':' "
    "|| CAST({key} AS VARCHAR)), 1, 8)) AS BIGINT) % (SELECT m_bits FROM mm)"
)

_BLOOM_ORACLE = f"""
WITH build AS (
  SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
mm AS (SELECT CAST(GREATEST({_BLOOM_BITS_PER_KEY} * COUNT(*), 1) AS BIGINT)
         AS m_bits
       FROM build),
seeds AS (SELECT unnest(range(0, {_BLOOM_K})) AS j),
occ AS (
  SELECT DISTINCT {_BLOOM_POS_SQL.format(j='j', key='c_custkey')} AS pos
  FROM build, seeds
),
probe AS (
  SELECT o_orderpriority,
         CASE WHEN {_BLOOM_POS_SQL.format(j='0', key='o_custkey')}
                IN (SELECT pos FROM occ)
               AND {_BLOOM_POS_SQL.format(j='1', key='o_custkey')}
                IN (SELECT pos FROM occ)
               AND {_BLOOM_POS_SQL.format(j='2', key='o_custkey')}
                IN (SELECT pos FROM occ)
              THEN 1 ELSE 0 END AS is_candidate,
         CASE WHEN o_custkey IN (SELECT c_custkey FROM build)
              THEN 1 ELSE 0 END AS is_member
  FROM orders
)
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(is_member) AS BIGINT) AS n_members,
       CAST(SUM(is_candidate) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN is_candidate = 1 AND is_member = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
       ROUND(CAST(SUM(CASE WHEN is_candidate = 1 AND is_member = 0
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(COUNT(*) - SUM(is_member), 0), 6) AS fp_rate,
       (SELECT m_bits FROM mm) AS m_bits
FROM probe
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@graded("join_bloom_prefilter", oracle=_BLOOM_ORACLE)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter prefilter for a fact⋈dim semi join, measured: build
    a deterministic md5 Bloom set (k=3, 16 bits/key) from BUILDING
    customers, probe every order map-side against the broadcast
    position set, and report per-priority candidate/member/false-pos
    counts. Plan shape: the probe side takes THREE broadcast hash
    lookups plus one broadcast membership join — zero shuffles of the
    fact table; the only exchange is the final 5-row aggregation. At
    100 TB the broadcast position set is |dim|×k longs (the real
    deployment packs it into a bitmap; the membership math is
    identical), and the measured fp_rate is what the prefilter trades
    for never shuffling non-matching fact rows."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    # r14 §2.4: build is consumed FIVE times (the m_bits census, the
    # occupancy build, the membership broadcast, plus mm's two
    # crossJoin sites) and occ THREE times (one broadcast per hash
    # probe) — unmaterialized, every consumer re-ran the customer
    # scan + filter, 18 parquet scans in one plan. Both frames are
    # dim-key-sized (|build| and ≤ 3·|build| longs). LAZY local
    # checkpoints: the first consumer materializes each frame and the
    # rest read its blocks, so the executed plan reads 2 scans (orders
    # + customer once) and building the query (explain, plan audits)
    # runs no job.
    build = (
        customer.where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
        .localCheckpoint(eager=False)
    )
    # GREATEST(·, 1): an empty build segment would size m_bits = 0 and
    # every position would compute x % 0 — NULL in Spark, error in
    # DuckDB. With m_bits = 1 the occupancy set is empty (no build rows
    # insert positions), so every probe misses and the prefilter
    # correctly returns zero candidates instead of degenerating.
    mm = build.agg(
        F.greatest(F.count("*") * _BLOOM_BITS_PER_KEY, F.lit(1))
        .cast("long")
        .alias("m_bits")
    )

    def pos(j, key: str):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("bloom"), j.cast("string"), F.col(key).cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long") % F.col("m_bits")

    seeds = spark.range(_BLOOM_K).select(F.col("id").alias("j"))
    occ = (
        build.crossJoin(F.broadcast(seeds))
        .crossJoin(F.broadcast(mm))
        .select(pos(F.col("j"), "c_custkey").alias("pos"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    probe = orders.crossJoin(F.broadcast(mm))
    for j in range(_BLOOM_K):
        probe = probe.withColumn(f"_p{j}", pos(F.lit(j), "o_custkey")).join(
            F.broadcast(occ.select(F.col("pos").alias(f"_occ{j}"))),
            F.col(f"_p{j}") == F.col(f"_occ{j}"),
            "left",
        )
    flagged = probe.join(
        F.broadcast(build.select(F.col("c_custkey").alias("_mk"))),
        F.col("o_custkey") == F.col("_mk"),
        "left",
    ).select(
        "o_orderpriority",
        "m_bits",
        F.when(
            F.col("_occ0").isNotNull()
            & F.col("_occ1").isNotNull()
            & F.col("_occ2").isNotNull(),
            1,
        )
        .otherwise(0)
        .alias("is_candidate"),
        F.when(F.col("_mk").isNotNull(), 1).otherwise(0).alias("is_member"),
    )
    false_pos = F.when(
        (F.col("is_candidate") == 1) & (F.col("is_member") == 0), 1
    ).otherwise(0)
    return (
        flagged.groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum("is_member").cast("bigint").alias("n_members"),
            F.sum("is_candidate").cast("bigint").alias("n_candidates"),
            F.sum(false_pos).cast("bigint").alias("n_false_pos"),
            F.round(
                F.sum(false_pos).cast("double")
                / F.nullif(
                    F.count("*") - F.sum("is_member"), F.lit(0)
                ),
                6,
            ).alias("fp_rate"),
            F.first("m_bits").alias("m_bits"),
        )
        .orderBy("o_orderpriority")
    )


# --- EXT J11: point-in-time (SCD2) dimension lookup (r11) ---------------------------

# The warehouse composition the SCD2 history (merge_scd2_history)
# exists FOR: enrich each fact with the dimension version valid at the
# fact's own timestamp — "which signup/session context was this purchase
# made under?". Expressed the scale-correct way: NOT a per-fact range probe
# into the version table, but one interleaved scan — union signups and
# purchases on the shared (user, time) order and carry the last seen
# version forward with last(..., ignorenulls) — the same
# last-observation window as the as-of family, zero joins, one
# user-keyed exchange. Purchases before any signup surface as version
# age -1 (unmatched), everything else buckets by version age in days
# (capped at 7). Counts exact; revenue uses the DECIMAL(18,6) recipe.
_PIT_ORACLE = """
WITH ev AS (
  SELECT user_id, event_id, event_type, ts,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE user_id % 7 = 0
),
tagged AS (
  SELECT user_id, event_id, event_type, ts, cents,
         CASE WHEN event_type = 'signup' THEN event_id END AS v_id,
         CASE WHEN event_type = 'signup' THEN ts END AS v_ts
  FROM ev
),
carried AS (
  SELECT user_id, event_id, event_type, ts, cents,
         LAST_VALUE(v_id IGNORE NULLS) OVER w AS version_id,
         LAST_VALUE(v_ts IGNORE NULLS) OVER w AS version_ts
  FROM tagged
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
),
p AS (
  SELECT CASE WHEN version_id IS NULL THEN -1
              ELSE LEAST(CAST(date_diff('day', CAST(version_ts AS DATE),
                                        CAST(ts AS DATE)) AS BIGINT), 7)
         END AS version_age_days,
         cents
  FROM carried WHERE event_type = 'purchase'
)
SELECT version_age_days,
       CAST(COUNT(*) AS BIGINT) AS n_purchases,
       ROUND(CAST(SUM(CAST(cents AS DECIMAL(18,6))) AS DOUBLE) / 100, 4)
         AS revenue_usd
FROM p
GROUP BY version_age_days
ORDER BY version_age_days
"""


@graded("join_scd2_pointintime", oracle=_PIT_ORACLE)
def join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases enriched with the signup version valid at purchase
    time via one interleaved last-observation window (rationale
    above), rolled up by version age."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") % 7 == 0)
        .select(
            "user_id",
            "event_id",
            "event_type",
            "ts",
            F.round(F.col("value") * 100, 0).cast("bigint").alias("cents"),
        )
    )
    tagged = ev.select(
        "*",
        F.when(F.col("event_type") == "signup", F.col("event_id")).alias("v_id"),
        F.when(F.col("event_type") == "signup", F.col("ts")).alias("v_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = tagged.select(
        "event_type",
        "ts",
        "cents",
        F.last("v_id", ignorenulls=True).over(w).alias("version_id"),
        F.last("v_ts", ignorenulls=True).over(w).alias("version_ts"),
    )
    age = F.when(F.col("version_id").isNull(), F.lit(-1)).otherwise(
        F.least(
            F.datediff(F.to_date("ts"), F.to_date("version_ts")).cast("bigint"),
            F.lit(7),
        )
    )
    return (
        carried.where(F.col("event_type") == "purchase")
        .select(age.alias("version_age_days"), "cents")
        .groupBy("version_age_days")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(
                F.sum(F.col("cents").cast("decimal(18,6)")).cast("double")
                / 100,
                4,
            ).alias("revenue_usd"),
        )
        .orderBy("version_age_days")
    )


# --- EXT: Bloom-filter bits-per-key sizing sweep (r13) -------------------------------

# join_bloom_prefilter MEASURES the false-positive rate at the one
# configured geometry (16 bits/key, k=3); the sizing decision wants
# the whole curve — per bits-per-key budget b in {8, 12, 16, 20}: the
# optimal hash count k = round(b*ln2), the analytic false-positive
# probability fpp = exp(k * ln(1 - exp(-k/b))), and the filter's exact
# byte cost for the ACTUAL build-side key census (same build set as
# the measured query, so the two instruments can't drift). Everything
# derives from a 1-row census x a 4-row ladder: exp/ln are safe
# shared-libm with identical expression text, k/b is an exact small
# rational, fpp is transcendental (no ROUND-tie class), and the byte
# cost is pure integer arithmetic — no rounding at all.
_BLOOM_SWEEP_BITS = [8, 12, 16, 20]

_BLOOM_SWEEP_ORACLE = f"""
WITH build AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys
  FROM customer WHERE c_mktsegment = 'BUILDING'
),
ladder AS (
  SELECT CAST(unnest([{", ".join(str(b) for b in _BLOOM_SWEEP_BITS)}])
              AS BIGINT) AS bits_per_key
),
cells AS (
  SELECT l.bits_per_key, b.n_keys,
         CAST(round(l.bits_per_key * ln(2.0), 0) AS BIGINT) AS k_hashes
  FROM ladder l, build b
)
SELECT bits_per_key, k_hashes, n_keys,
       CAST((n_keys * bits_per_key + 7) // 8 AS BIGINT) AS filter_bytes,
       ROUND(exp(k_hashes * ln(1.0 - exp(-(k_hashes * 1.0 / bits_per_key)))),
             8) AS fpp
FROM cells
ORDER BY bits_per_key
"""


@graded("join_bloom_fpp_sweep", oracle=_BLOOM_SWEEP_ORACLE)
def join_bloom_fpp_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal hash count, analytic false-positive probability, and
    exact byte cost per Bloom bits-per-key budget for the production
    build-side key census (rationale above the oracle)."""
    customer = load_table(spark, sf_dir, "customer")
    build = customer.where(F.col("c_mktsegment") == "BUILDING").agg(
        F.count("*").cast("bigint").alias("n_keys")
    )
    ladder = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(b).cast("bigint") for b in _BLOOM_SWEEP_BITS])
        ).alias("bits_per_key")
    )
    k = F.round(F.col("bits_per_key") * F.log(F.lit(2.0)), 0).cast("bigint")
    cells = ladder.crossJoin(F.broadcast(build)).select(
        "bits_per_key", "n_keys", k.alias("k_hashes")
    )
    fpp = F.exp(
        F.col("k_hashes")
        * F.log(
            1.0 - F.exp(-(F.col("k_hashes") * 1.0 / F.col("bits_per_key")))
        )
    )
    return cells.select(
        "bits_per_key",
        "k_hashes",
        "n_keys",
        F.expr("CAST((n_keys * bits_per_key + 7) DIV 8 AS BIGINT)").alias(
            "filter_bytes"
        ),
        F.round(fpp, 8).alias("fpp"),
    ).orderBy("bits_per_key")
