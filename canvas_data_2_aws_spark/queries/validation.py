"""Replica validation queries — the post-`syncdb` integrity surface.

A replication pipeline is only as trustworthy as its verification: after
every sync the operator needs (a) a profile of what landed, (b) proof
that FK relationships survived, and (c) a cheap way to compare replica
against source WITHOUT moving either. All three are ordinary
aggregations here — and all three are oracle-checked, which is itself
the point: the checksum that matches DuckDB bit-for-bit is the checksum
you can trust across heterogeneous stores.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions.numeric import dsum, oracle_dsum, row_digest
from ..registry import graded
from ..session import load_table

# --- table profile --------------------------------------------------------------

_PROFILE_ORACLE = f"""
SELECT COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS null_custkey,
       COUNT(DISTINCT o_orderkey) AS distinct_keys,
       COUNT(DISTINCT o_orderstatus) AS distinct_status,
       MIN(o_orderkey) AS min_key,
       MAX(o_orderkey) AS max_key,
       {oracle_dsum('o_totalprice', 'sum_price')}
FROM orders
"""


@graded("validate_profile", oracle=_PROFILE_ORACLE)
def validate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-load profile: cardinalities, null counts, key range, money
    total (decimal recipe). One pass, all map-side combinable."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.count("*").alias("n_rows"),
        (F.count("*") - F.count("o_custkey")).alias("null_custkey"),
        F.countDistinct("o_orderkey").alias("distinct_keys"),
        F.countDistinct("o_orderstatus").alias("distinct_status"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
        dsum("o_totalprice", "sum_price"),
    )


# --- referential integrity ------------------------------------------------------

_FK_ORACLE = """
SELECT 'lineitem->orders' AS fk, COUNT(*) AS n_orphans
FROM lineitem l WHERE NOT EXISTS (
  SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders->customer' AS fk, COUNT(*) AS n_orphans
FROM orders o WHERE NOT EXISTS (
  SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'customer->nation' AS fk, COUNT(*) AS n_orphans
FROM customer c WHERE NOT EXISTS (
  SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
"""


@graded("validate_fk_integrity", oracle=_FK_ORACLE)
def validate_fk_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orphaned-FK detection per relationship (anti joins — the J6
    primitive doing integrity duty). A replica that merges upserts and
    deletes out of order shows up here first."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")

    def orphans(child, parent, ckey, pkey, label):
        cnt = child.join(
            parent, child[ckey] == parent[pkey], "left_anti"
        ).count()
        return (label, cnt)

    rows = [
        orphans(li, o, "l_orderkey", "o_orderkey", "lineitem->orders"),
        orphans(o, c, "o_custkey", "c_custkey", "orders->customer"),
        orphans(c, n, "c_nationkey", "n_nationkey", "customer->nation"),
    ]
    return spark.createDataFrame(rows, "fk string, n_orphans long")


# --- cross-engine table checksum ------------------------------------------------

# Row digest: md5 over a canonical string of engine-neutral fields
# (keys, strings, integer cents — never raw doubles/timestamps, whose
# string forms are engine-dependent), folded to a 32-bit int and SUMmed.
# Addition is commutative → order-insensitive; md5 is identical
# everywhere → the same table yields the same checksum in any engine.
# Spark side: functions.numeric.row_digest over these columns, in order.
_DIGEST_COLS = ("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
_CHECKSUM_ORACLE = """
SELECT CAST(SUM(CAST(concat('0x', substring(md5(
         concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                   CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR),
                   o_orderpriority)
       ), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum,
       COUNT(*) AS n_rows
FROM orders
"""


@graded("validate_table_checksum", oracle=_CHECKSUM_ORACLE)
def validate_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum — replica≡source comparison
    without data movement: each side computes one number."""
    o = load_table(spark, sf_dir, "orders")
    return o.agg(
        F.sum(row_digest(o, _DIGEST_COLS)).alias("checksum"),
        F.count("*").alias("n_rows"),
    )


# --- Merkle-style range checksums: LOCALIZE replica divergence ------------------

# Same engine-neutral digest as validate_table_checksum, but grouped by
# PK range — when a replica diverges, comparing range checksums finds
# WHICH ~1k-key slice to re-sync instead of re-pulling the table (the
# anti-entropy repair pattern; the reference's validate only detects
# whole-table drift).
_MERKLE_ORACLE = """
SELECT o_orderkey // 1024 AS range_id,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(concat('0x', substring(md5(
         concat_ws('|', CAST(o_orderkey AS VARCHAR), o_orderstatus,
                   CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR),
                   o_orderpriority)
       ), 1, 8)) AS BIGINT)) AS BIGINT) AS range_checksum
FROM orders
GROUP BY range_id
"""


@graded("validate_merkle_ranges", oracle=_MERKLE_ORACLE)
def validate_merkle_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-range content checksums (addition over per-row md5 folds —
    commutative, order-insensitive, engine-neutral). Compare source vs
    replica range lists to localize drift to a PK slice; ranges align
    with the PK bucketing of SCALE.md §1, so a repair re-reads one
    bucket."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.expr("o_orderkey DIV 1024").alias("range_id"))
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(row_digest(o, _DIGEST_COLS)).alias("range_checksum"),
        )
    )


# --- cross-table reconciliation: do the money columns agree? --------------------

# o_totalprice vs Σ l_extendedprice·(1+l_tax)·(1−l_discount) per order:
# the referential AGGREGATE audit (FK integrity says every line has an
# order; this says the totals agree). The fixture generates the two
# tables independently, so diffs are real and the report is non-trivial.
_RECONCILE_ORACLE = """
WITH line_tot AS (
  SELECT l_orderkey AS okey,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
                       AS DECIMAL(38,6))) AS DOUBLE) AS line_total
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       COUNT(line_total) AS n_with_lines,
       CAST(SUM(CASE WHEN line_total IS NOT NULL
                      AND ABS(line_total - o_totalprice) > 1.0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_diverged,
       CAST(SUM(CAST(COALESCE(ABS(line_total - o_totalprice), 0.0)
                     AS DECIMAL(38,6))) AS DOUBLE) AS total_abs_drift
FROM orders LEFT JOIN line_tot ON o_orderkey = okey
GROUP BY o_orderstatus
"""


@graded("validate_reconcile_totals", oracle=_RECONCILE_ORACLE)
def validate_reconcile_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Totals reconciliation between fact and header tables — the
    aggregate-level referential audit a replica runs after syncdb.
    One shuffle on the natural key (removable by co-bucketing both
    tables at rest), decimal-exact drift arithmetic, per-status
    report rows."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    line_tot = li.groupBy(F.col("l_orderkey").alias("okey")).agg(
        F.sum(
            F.expr(
                "CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)"
                " AS DECIMAL(38,6))"
            )
        )
        .cast("double")
        .alias("line_total")
    )
    diff = F.abs(F.col("line_total") - F.col("o_totalprice"))
    return (
        o.join(line_tot, F.col("o_orderkey") == F.col("okey"), "left")
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.count("line_total").alias("n_with_lines"),
            F.sum(
                F.when(F.col("line_total").isNotNull() & (diff > 1.0), 1)
                .otherwise(0)
            ).alias("n_diverged"),
            F.sum(F.coalesce(diff, F.lit(0.0)).cast("decimal(38,6)"))
            .cast("double")
            .alias("total_abs_drift"),
        )
    )


# --- EXT: Benford first-digit audit ----------------------------------------------

# Fabricated or corrupted monetary columns drift from Benford's law;
# this is the standard forensic screen over a replicated fact table.
# The first significant digit comes from the exact integer-cents
# string (no float log10 edge cases); expected shares are ln(1+1/d)
# computed by the same libm sequence in both engines.
_BENFORD_ORACLE = """
WITH d AS (
  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                             AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM orders
  WHERE o_totalprice > 0
),
g AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY digit),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM g)
SELECT g.digit, g.n,
       ROUND(CAST(g.n AS DOUBLE) / t.total, 4) AS observed,
       ROUND(LN(1.0 + 1.0 / CAST(g.digit AS DOUBLE)) / LN(10.0), 4) AS benford,
       ROUND(CAST(g.n AS DOUBLE) / t.total
             - LN(1.0 + 1.0 / CAST(g.digit AS DOUBLE)) / LN(10.0), 4) AS delta
FROM g, t
"""


@graded("validate_benford_digits", oracle=_BENFORD_ORACLE)
def validate_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit distribution of order totals vs the
    Benford expectation — the fraud/corruption screen run after each
    replication cycle. One map-side-combinable agg over a 9-key space;
    the scalar total rides a 1-row broadcast."""
    o = load_table(spark, sf_dir, "orders")
    digit = (
        F.substring(
            F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"), 1, 1
        )
    ).cast("int")
    g = (
        o.where(F.col("o_totalprice") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    t = g.agg(F.sum("n").alias("total"))
    benford = F.log(1.0 + 1.0 / F.col("digit").cast("double")) / F.log(F.lit(10.0))
    obs = F.col("n").cast("double") / F.col("total")
    return (
        g.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            F.round(obs, 4).alias("observed"),
            F.round(benford, 4).alias("benford"),
            F.round(obs - benford, 4).alias("delta"),
        )
    )


# --- whole-replica release manifest ---------------------------------------------

# The artifact a replica publishes after every sync: one row per table
# with its row count and an order-insensitive PK checksum, so any two
# replicas (or replica vs source) diff with a 10-row compare. Same
# md5-slice-sum construction as validate_table_checksum, applied to
# the primary key of every table in the schema registry.
_RELEASE_KEYS = [
    ("region", "CAST(r_regionkey AS VARCHAR)"),
    ("nation", "CAST(n_nationkey AS VARCHAR)"),
    ("customer", "CAST(c_custkey AS VARCHAR)"),
    ("supplier", "CAST(s_suppkey AS VARCHAR)"),
    ("part", "CAST(p_partkey AS VARCHAR)"),
    ("orders", "CAST(o_orderkey AS VARCHAR)"),
    (
        "lineitem",
        "CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)",
    ),
    ("events", "CAST(event_id AS VARCHAR)"),
    ("documents", "CAST(doc_id AS VARCHAR)"),
    ("embeddings", "CAST(vec_id AS VARCHAR)"),
]

_RELEASE_ORACLE = "\nUNION ALL\n".join(
    f"""SELECT '{t}' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(concat('0x', substring(md5({k}), 1, 8)) AS BIGINT))
            AS BIGINT) AS pk_checksum
FROM {t}"""
    for t, k in _RELEASE_KEYS
)


@graded("validate_release_manifest", oracle=_RELEASE_ORACLE)
def validate_release_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table (n_rows, PK checksum) manifest over the whole replica
    — ten independent single-row aggregates unioned; each is one scan
    of only the key columns (pruned), partial-aggregated map-side, so
    manifest cost is IO-bound on the key columns at any scale."""
    parts = []
    for t, _ in _RELEASE_KEYS:
        df = load_table(spark, sf_dir, t)
        if t == "lineitem":
            key = F.concat_ws(
                "|",
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
        else:
            pk = {
                "region": "r_regionkey",
                "nation": "n_nationkey",
                "customer": "c_custkey",
                "supplier": "s_suppkey",
                "part": "p_partkey",
                "orders": "o_orderkey",
                "events": "event_id",
                "documents": "doc_id",
                "embeddings": "vec_id",
            }[t]
            key = F.col(pk).cast("string")
        digest = F.conv(F.substring(F.md5(key), 1, 8), 16, 10).cast("long")
        parts.append(
            df.agg(
                F.count("*").alias("n_rows"),
                F.sum(digest).alias("pk_checksum"),
            ).select(
                F.lit(t).alias("table_name"), "n_rows", "pk_checksum"
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# --- population-stability-index drift monitor (r10) -------------------------------

# THE post-sync distribution check a replication pipeline runs after
# the integrity checks above: did the VALUE distribution shift between
# loads? PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i) over reference-decile
# bins (reference = first half-month of events, current = second).
# Industry thresholds: <0.1 stable, 0.1–0.25 drifting, >0.25 broken.
#
# Determinism recipe (SURVEY §8): decile cut points are DISCRETE
# reference percentiles (integer index arithmetic, distributed global
# ranks); p_i, q_i are exact int/int divisions; the only transcendental
# is ln(p/max(q,ε)) on identical doubles, and each bin term is rounded
# to 9 dp (+0.0 to normalize a potential −0.0) before the
# order-independent DECIMAL sum — the same ln-quantization the
# perplexity family uses.
_PSI_ORACLE = """
WITH ref AS (
  SELECT value AS v, event_id FROM events WHERE date_part('day', ts) <= 15
),
cur AS (
  SELECT value AS v, event_id FROM events WHERE date_part('day', ts) > 15
),
nref AS (SELECT COUNT(*) AS n FROM ref),
ks(k) AS (VALUES (1),(2),(3),(4),(5),(6),(7),(8),(9)),
ranked AS MATERIALIZED (
  SELECT v, ROW_NUMBER() OVER (ORDER BY v, event_id) AS rn FROM ref
),
cuts AS MATERIALIZED (
  SELECT ks.k, r.v AS cut_v
  FROM ks, nref JOIN ranked r ON r.rn = ((nref.n - 1) * ks.k) // 10 + 1
),
rbin AS (
  SELECT rf.event_id, 1 + COUNT(c.k) AS bin
  FROM ref rf LEFT JOIN cuts c ON rf.v > c.cut_v GROUP BY rf.event_id
),
cbin AS (
  SELECT cu.event_id, 1 + COUNT(c.k) AS bin
  FROM cur cu LEFT JOIN cuts c ON cu.v > c.cut_v GROUP BY cu.event_id
),
rcnt AS (SELECT bin, COUNT(*) AS ref_n FROM rbin GROUP BY bin),
ccnt AS (SELECT bin, COUNT(*) AS cur_n FROM cbin GROUP BY bin),
tot AS (
  SELECT (SELECT COUNT(*) FROM ref) AS rt, (SELECT COUNT(*) FROM cur) AS ct
),
terms AS MATERIALIZED (
  SELECT r.bin,
         r.ref_n,
         COALESCE(c.cur_n, 0) AS cur_n,
         ROUND((CAST(r.ref_n AS DOUBLE) / tot.rt
                - CAST(COALESCE(c.cur_n, 0) AS DOUBLE) / tot.ct)
               * CAST(CAST(ln((CAST(r.ref_n AS DOUBLE) / tot.rt)
                              / GREATEST(CAST(COALESCE(c.cur_n, 0) AS DOUBLE)
                                         / tot.ct, 1e-6))
                           AS DECIMAL(38,9)) AS DOUBLE),
               9) + 0.0 AS psi_term
  FROM rcnt r LEFT JOIN ccnt c ON c.bin = r.bin, tot
),
tsum AS (
  SELECT ROUND(CAST(SUM(CAST(psi_term AS DECIMAL(18,12))) AS DOUBLE), 6) + 0.0
           AS psi_total
  FROM terms
)
SELECT CAST(t.bin AS BIGINT) AS bin,
       CAST(t.ref_n AS BIGINT) AS ref_n,
       CAST(t.cur_n AS BIGINT) AS cur_n,
       t.psi_term, s.psi_total
FROM terms t, tsum s
"""


@graded("validate_psi_drift", oracle=_PSI_ORACLE)
def validate_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift between the two half-month event loads (rationale and
    determinism recipe above). Plan: one distributed global rank over
    the reference for the 9 cut points (fetched driver-side — a
    bounded ≤9-row index, the centroid-fetch precedent), then binning
    is a literal CASE chain (pure map, zero extra shuffle at any
    corpus), two 10-row bin aggregates, and a broadcast scalar attach
    of the total."""
    from ..operators.ranks import global_row_number

    ev = load_table(spark, sf_dir, "events")
    is_ref = F.dayofmonth("ts") <= 15
    ref = ev.where(is_ref).select(F.col("value").alias("v"), "event_id")
    ranked = global_row_number(ref, ["v", "event_id"], out="rn")
    # one pass for BOTH side counts (r14 §2.4: was two full scans)
    side_counts = {
        bool(r.is_ref): r.n
        for r in ev.select(is_ref.alias("is_ref"))
        .groupBy("is_ref")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    nref = int(side_counts.get(True, 0))
    targets = {((nref - 1) * k) // 10 + 1 for k in range(1, 10)}
    cut_rows = (
        ranked.where(F.col("rn").isin(sorted(targets))).select("v").collect()
    )
    if len(cut_rows) > 9:  # bounded-fetch guard (rn is unique ⇒ ≤9)
        raise RuntimeError("PSI cut fetch returned more rows than cut points")
    cuts = sorted(r.v for r in cut_rows)
    bin_col = sum(
        ((F.col("value") > F.lit(c)).cast("int") for c in cuts), F.lit(1)
    ).alias("bin")

    # one pass for BOTH sides' bin censuses (r14 §2.4: was two full
    # scans): same CASE-chain binning, split by the ref/cur predicate.
    binned = (
        ev.select(is_ref.alias("is_ref"), bin_col)
        .groupBy("is_ref", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)  # consumed by both side filters
    )
    rcnt = binned.where("is_ref").select(
        "bin", F.col("n").alias("ref_n")
    )
    ccnt = binned.where(~F.col("is_ref")).select(
        "bin", F.col("n").alias("cur_n")
    )
    rt = float(nref)
    ct = float(side_counts.get(False, 0))
    p = F.col("ref_n").cast("double") / F.lit(rt)
    q = F.coalesce(F.col("cur_n"), F.lit(0)).cast("double") / F.lit(ct)
    term = (
        F.round(
            (p - q)
            * F.log(p / F.greatest(q, F.lit(1e-6)))
            .cast("decimal(38,9)")
            .cast("double"),
            9,
        )
        + 0.0
    ).alias("psi_term")
    terms = (
        rcnt.join(ccnt, "bin", "left")
        .select(
            F.col("bin").cast("bigint").alias("bin"),
            F.col("ref_n").cast("bigint").alias("ref_n"),
            F.coalesce(F.col("cur_n"), F.lit(0)).cast("bigint").alias("cur_n"),
            term,
        )
        .localCheckpoint(eager=True)  # feeds rows + the total attach
    )
    tsum = terms.agg(
        (
            F.round(
                F.sum(F.col("psi_term").cast("decimal(18,12)")).cast("double"),
                6,
            )
            + 0.0
        ).alias("psi_total")
    )
    return terms.crossJoin(F.broadcast(tsum))  # 1-row scalar attach


# --- EXT: k-anonymity audit over quasi-identifiers (r11) ---------------------------

# The privacy screen a training corpus runs BEFORE the DP release
# (analytics_dp_counts) decides how much noise to add: how many
# records sit in quasi-identifier equivalence classes smaller than k —
# i.e., are re-identifiable by joining (segment, nation, account-bal
# band) against an external table. One group-size census (map-side
# combinable) re-aggregated against the 4-row k ladder via a
# broadcast theta-join on group size — both aggs metadata-sized after
# the first collapse, so the audit is one scan at any corpus.
_KANON_KS = (2, 5, 10, 25)

_KANON_ORACLE = f"""
WITH qi AS (
  SELECT c_mktsegment, c_nationkey,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS bal_band,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM customer
  GROUP BY 1, 2, 3
),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_rows FROM qi),
ks AS (SELECT unnest([{", ".join(str(k) for k in _KANON_KS)}]) AS k)
SELECT ks.k,
       CAST(COALESCE(SUM(CASE WHEN qi.n < ks.k THEN 1 ELSE 0 END), 0)
            AS BIGINT) AS n_violating_groups,
       CAST(COALESCE(SUM(CASE WHEN qi.n < ks.k THEN qi.n ELSE 0 END), 0)
            AS BIGINT) AS n_rows_at_risk,
       ROUND(CAST(COALESCE(SUM(CASE WHEN qi.n < ks.k THEN qi.n ELSE 0 END), 0)
                  AS DOUBLE) / MIN(t.n_rows), 4) AS risk_share,
       CAST(MIN(qi.n) AS BIGINT) AS min_group_size
FROM ks, qi, tot t
GROUP BY ks.k
ORDER BY ks.k
"""


@graded("validate_k_anonymity", oracle=_KANON_ORACLE)
def validate_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity ladder over (segment, nation, $1k-balance-band)
    quasi-identifiers: per k, the violating-group and at-risk-row
    counts plus the global minimum class size (rationale above)."""
    c = load_table(spark, sf_dir, "customer")
    qi = c.groupBy(
        "c_mktsegment",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias("bal_band"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    tot = qi.agg(F.sum("n").cast("bigint").alias("n_rows"))
    ks = spark.range(len(_KANON_KS)).select(
        F.element_at(
            F.array(*[F.lit(k) for k in _KANON_KS]), (F.col("id") + 1).cast("int")
        ).alias("k")
    )
    at_risk = F.when(F.col("n") < F.col("k"), F.col("n")).otherwise(0)
    return (
        qi.crossJoin(F.broadcast(ks))  # 4-row k ladder attach
        .crossJoin(F.broadcast(tot))  # 1-row total attach
        .groupBy("k")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("n") < F.col("k"), 1).otherwise(0)), F.lit(0)
            )
            .cast("bigint")
            .alias("n_violating_groups"),
            F.coalesce(F.sum(at_risk), F.lit(0))
            .cast("bigint")
            .alias("n_rows_at_risk"),
            F.round(
                F.coalesce(F.sum(at_risk), F.lit(0)).cast("double")
                / F.min("n_rows"),
                4,
            ).alias("risk_share"),
            F.min("n").cast("bigint").alias("min_group_size"),
        )
        .orderBy("k")
    )


# --- EXT: shuffle-key skew audit (r12) ------------------------------------------------

# The pre-flight check before every big shuffle: how skewed is the
# join/aggregation key? A hot key serializes its whole group through
# one task, and the mitigation (salting, AQE skew splits, broadcast)
# is chosen from exactly these numbers — max key mass, top-k share,
# and the entropy balance ratio (H / ln(n_keys): 1.0 = perfectly
# uniform, -> 0 = one key owns the table). Three production keys are
# audited (lineitem.l_orderkey — the fan-out FK; orders.o_custkey —
# the dimension FK the salted-join demo shuffles on; events.user_id —
# the sessionization key). Per leg: one key census (map-side
# combinable), constant-width aggregates, a 10-row TakeOrdered for the
# top-k mass; entropy = ln(n) - (sum c*ln(c))/n with the c*ln(c) terms
# decimal-quantized (identical-operand IEEE in both engines).
def _skew_leg_sql(key_name: str, table: str, col: str) -> str:
    return f"""
SELECT '{key_name}' AS key_name,
       CAST(SUM(c) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(MAX(c) AS BIGINT) AS max_key_rows,
       ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top1_share,
       ROUND(CAST((SELECT SUM(c) FROM (
                SELECT COUNT(*) AS c FROM {table} GROUP BY {col}
                ORDER BY c DESC, {col} LIMIT 10)) AS DOUBLE) / SUM(c), 6)
         AS top10_share,
       ROUND(LN(CAST(SUM(c) AS DOUBLE))
             - CAST(SUM(CAST(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
                             AS DECIMAL(38,12))) AS DOUBLE) / SUM(c), 6)
         AS entropy,
       ROUND((LN(CAST(SUM(c) AS DOUBLE))
              - CAST(SUM(CAST(CAST(c AS DOUBLE) * LN(CAST(c AS DOUBLE))
                              AS DECIMAL(38,12))) AS DOUBLE) / SUM(c))
             / LN(CAST(COUNT(*) AS DOUBLE)), 6) AS balance_ratio
FROM (SELECT COUNT(*) AS c FROM {table} GROUP BY {col})"""


_SKEW_KEYS = [
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
]

_KEY_SKEW_ORACLE = (
    " UNION ALL ".join(_skew_leg_sql(*leg) for leg in _SKEW_KEYS)
    + "\nORDER BY key_name"
)


@graded("validate_key_skew", oracle=_KEY_SKEW_ORACLE)
def validate_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-distribution skew audit for the three production shuffle
    keys: row/key counts, hottest-key and top-10 mass shares, and the
    entropy balance ratio (rationale above the oracle)."""

    def leg(key_name: str, table: str, col: str) -> DataFrame:
        census = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(col).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
            .localCheckpoint()  # consumed twice: aggregates + top-10
        )
        top10 = (
            census.orderBy(F.col("c").desc(), "k")
            .limit(10)
            .agg(F.sum("c").alias("top10_rows"))
        )
        slnc = (
            F.sum(
                (F.col("c").cast("double") * F.log(F.col("c").cast("double")))
                .cast("decimal(38,12)")
            )
            .cast("double")
        )
        agg = census.agg(
            F.sum("c").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.max("c").cast("bigint").alias("max_key_rows"),
            slnc.alias("slnc"),
        )
        ent = F.log(F.col("n_rows").cast("double")) - F.col("slnc") / F.col(
            "n_rows"
        )
        return (
            agg.crossJoin(F.broadcast(top10))  # 1-row top-k mass attach
            .select(
                F.lit(key_name).alias("key_name"),
                "n_rows",
                "n_keys",
                "max_key_rows",
                F.round(
                    F.col("max_key_rows").cast("double") / F.col("n_rows"), 6
                ).alias("top1_share"),
                F.round(
                    F.col("top10_rows").cast("double") / F.col("n_rows"), 6
                ).alias("top10_share"),
                F.round(ent, 6).alias("entropy"),
                F.round(
                    ent / F.log(F.col("n_keys").cast("double")), 6
                ).alias("balance_ratio"),
            )
        )

    legs = [leg(*spec) for spec in _SKEW_KEYS]
    out = legs[0]
    for one in legs[1:]:
        out = out.unionByName(one)
    return out.orderBy("key_name")
