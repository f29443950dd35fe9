"""Time-series / streaming queries (SURVEY §2.9 T1–T6).

T1–T3 are graded as batch DataFrames (identical Catalyst operators run
under the micro-batch scheduler); the true streaming forms live in
``streaming/`` and are smoke-checked here rows-only via
``Trigger.AvailableNow`` replays (T4–T6).
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..functions.numeric import dsum, oracle_dsum
from ..registry import graded
from ..session import load_table, materialize_outliving
from ..streaming.merge_sink import StreamingMergeSink
from ..streaming.windows import (
    dedup_stream,
    read_event_stream,
    run_available_now,
    stateful_user_totals_stream,
    tumbling_counts_stream,
)

# --- T1: tumbling window -------------------------------------------------------

_TUMBLING_ORACLE = f"""
SELECT
  CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_start,
  event_type,
  COUNT(*) AS n,
  {oracle_dsum('value', 'sum_value')}
FROM events
GROUP BY hour_start, event_type
"""


@graded("stream_tumbling_counts", oracle=_TUMBLING_ORACLE)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event rollup. Spark's window() aligns to the epoch, so
    window.start ≡ date_trunc('hour') — project the start, never the
    raw window struct (SURVEY §2.9 T1)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count("*").alias("n"), dsum("value", "sum_value"))
        .select(F.col("win.start").alias("hour_start"), "event_type", "n", "sum_value")
    )


# --- T2: sliding window -----------------------------------------------------------

_SLIDING_ORACLE = f"""
WITH expanded AS (
  SELECT
    make_timestamp((CAST(FLOOR(epoch(ts) / 1800) AS BIGINT) * 1800
                    - i * 1800) * 1000000) AS window_start,
    event_type,
    value
  FROM events, range(0, 2) t(i)
)
SELECT window_start, event_type, COUNT(*) AS n, {oracle_dsum('value', 'sum_value')}
FROM expanded
GROUP BY window_start, event_type
"""


@graded("stream_sliding_counts", oracle=_SLIDING_ORACLE)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 min (each event lands in exactly
    2 windows). Oracle reproduces Spark's epoch-aligned starts by
    expanding each event to its two containing window starts."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("win"), "event_type"
        )
        .agg(F.count("*").alias("n"), dsum("value", "sum_value"))
        .select(
            F.col("win.start").alias("window_start"), "event_type", "n", "sum_value"
        )
    )


# --- T3: session windows -------------------------------------------------------------

_SESSION_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM seq
),
sessions AS (
  SELECT user_id, ts,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
),
per_session AS (
  SELECT user_id, session_id, COUNT(*) AS n_events,
         epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS dur_us
  FROM sessions GROUP BY user_id, session_id
)
SELECT user_id,
       COUNT(*) AS n_sessions,
       CAST(SUM(n_events) AS BIGINT) AS n_events,
       CAST(SUM(dur_us) AS DOUBLE) / COUNT(*) / 1000000.0 AS avg_session_s
FROM per_session
GROUP BY user_id
"""


@graded("stream_session_stats", oracle=_SESSION_ORACLE)
def stream_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min): native session_window in
    batch. Session boundary is ts − prev ≥ gap (Spark sessions span
    [start, last+gap)); the oracle is the classic gaps-and-islands
    rewrite. Durations aggregated in integer µs (exact), divided once.
    """
    ev = load_table(spark, sf_dir, "events")
    per_session = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dur_us"),
        )
    )
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        (F.sum("dur_us").cast("double") / F.count("*") / 1000000.0).alias(
            "avg_session_s"
        ),
    )


# --- T4/T5/T6: true Structured Streaming smokes (rows-only) --------------------------


import contextlib


@contextlib.contextmanager
def _few_state_partitions(spark: SparkSession, n: int = 8):
    """Clamp shuffle partitions around a bounded streaming replay.

    Stateful operators allocate one state-store instance per shuffle
    partition per micro-batch; at replay scale (10⁴ rows) 32 stores ×
    3 batches is pure overhead. Production streams keep the session
    default — state-store parallelism should match key cardinality.
    """
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# r13 (guide §2.4): the staged replay SOURCE splits are deterministic
# pure functions of the fixture tables (range split + mtime stamps),
# and eleven graded queries/smokes used to re-stage and delete them
# per invocation. Stage once per (session, sf_dir) and never delete;
# the memo revalidates with isdir() so a caller (or test) that removes
# the directory just pays one re-stage. Per-run STATE dirs
# (checkpoints, partial stores) stay per-invocation temp dirs — only
# the immutable source split is shared, so no query can observe
# another's state.
_STAGED_DIRS: dict[tuple, str] = {}
_STAGED_LOCK = threading.Lock()


def _cleanup_staged_dirs() -> None:
    """Process-exit sweep of every staged replay source dir (ADVICE
    r13: the per-invocation rmtrees were removed when staging became
    session-memoized, so the split dirs outlived the process and
    accumulated in $TMPDIR)."""
    with _STAGED_LOCK:
        paths = list(_STAGED_DIRS.values())
        _STAGED_DIRS.clear()
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


atexit.register(_cleanup_staged_dirs)


def _staged_split(
    spark: SparkSession, sf_dir: str, kind: str, n_files: int, build
) -> str:
    key = (spark.sparkContext.applicationId, sf_dir, kind, n_files)
    with _STAGED_LOCK:
        for stale in [k for k in _STAGED_DIRS if k[0] != key[0]]:
            # a stale key's applicationId belongs to a stopped session
            # in this process — nothing can read the dir again, and the
            # atexit sweep won't see evicted entries, so remove it now.
            shutil.rmtree(_STAGED_DIRS.pop(stale), ignore_errors=True)
        path = _STAGED_DIRS.get(key)
    if path is not None and os.path.isdir(path):
        return path
    path = build()
    with _STAGED_LOCK:
        winner = _STAGED_DIRS.get(key)
        if winner is not None and winner != path and os.path.isdir(winner):
            # lost a cold-key race (build runs outside the lock by
            # design): keep the first registration, drop our redundant
            # staging instead of leaking it untracked (ADVICE r13).
            loser = path
            path = winner
        else:
            _STAGED_DIRS[key] = path
            loser = None
    if loser is not None:
        shutil.rmtree(loser, ignore_errors=True)
    return path


def _replay_dir(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """Split events into n time-ordered parquet files for replay —
    the shared range-split + mtime-stamp recipe (streaming/replay.py);
    replay order = time order, so watermarks never drop early slices.
    Session-memoized (see _staged_split above)."""
    from ..streaming.replay import split_ordered

    return _staged_split(
        spark,
        sf_dir,
        "events",
        n_files,
        lambda: split_ordered(
            load_table(spark, sf_dir, "events"),
            "ts",
            n_files,
            prefix="cda2_stream_",
        ),
    )


@graded("stream_watermark_smoke", oracle=None)
def stream_watermark_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1+T4 streaming form: watermarked tumbling counts over a
    3-micro-batch AvailableNow replay; result equals the batch analog
    (asserted in tests/test_streaming.py)."""
    base = _replay_dir(spark, sf_dir)
    try:
        with _few_state_partitions(spark):
            stream = read_event_stream(spark, f"{base}/part*")
            agg = tumbling_counts_stream(stream)
            rows = run_available_now(agg, "wm_smoke", output_mode="complete")
        return spark.createDataFrame(rows, agg.schema)
    finally:
        pass  # base is session-memoized (r13) — never delete it here


@graded("stream_dedup_smoke", oracle=None)
def stream_dedup_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: stateful dropDuplicatesWithinWatermark over a replay that
    duplicates every file (each event arrives twice)."""
    base = _replay_dir(spark, sf_dir)
    try:
        with _few_state_partitions(spark):
            # duplicate the stream: same files listed twice via two globs
            stream = read_event_stream(spark, f"{base}/part*")
            doubled = stream.unionByName(read_event_stream(spark, f"{base}/part*"))
            deduped = dedup_stream(doubled)
            counted = deduped.groupBy("event_type").agg(F.count("*").alias("n"))
            rows = run_available_now(counted, "dedup_smoke", output_mode="complete")
        return spark.createDataFrame(rows, counted.schema)
    finally:
        pass  # base is session-memoized (r13) — never delete it here


@graded("stream_merge_smoke", oracle=None)
def stream_merge_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: foreachBatch merge loop — bootstrap a replica from orders,
    stream the derived changeset in 2 micro-batches, return the final
    replica's status counts (equivalence with batch M1 asserted in
    tests)."""
    from .merge import derive_changeset

    orders = load_table(spark, sf_dir, "orders")
    # written twice, once per micro-batch file
    changeset = (
        derive_changeset(orders)
        .localCheckpoint(eager=False)
        .withColumn("chg_ts", F.current_timestamp())
    )
    base_dir = tempfile.mkdtemp(prefix="cda2_msink_")
    chg_dir = tempfile.mkdtemp(prefix="cda2_chg_")
    ckpt_dir = tempfile.mkdtemp(prefix="cda2_ckpt_")
    try:
        sink = StreamingMergeSink(
            spark, base_dir, keys=["o_orderkey"], compact_by=["chg_ts"]
        )
        sink.bootstrap(orders)
        changeset.where(F.col("o_orderkey") % 2 == 0).write.parquet(f"{chg_dir}/b0")
        changeset.where(F.col("o_orderkey") % 2 == 1).write.parquet(f"{chg_dir}/b1")
        stream = (
            spark.readStream.schema(changeset.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{chg_dir}/b*")
        )
        q = sink.start(stream, ckpt_dir)
        q.awaitTermination()
        final = sink.current_snapshot()
        out = (
            final.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n"))
            .orderBy("o_orderstatus")
        )
        return materialize_outliving(out, base_dir)
    finally:
        for d in (base_dir, chg_dir, ckpt_dir):
            shutil.rmtree(d, ignore_errors=True)


# --- T-EXT: custom stateful operator (applyInPandasWithState) -------------------

_STATEFUL_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE)
         / CAST(100 AS DOUBLE) AS total_value
FROM events
GROUP BY user_id
"""


@graded("stream_stateful_totals", oracle=_STATEFUL_ORACLE)
def stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState)
    over a 3-micro-batch replay. Integer-cent state accumulation makes
    the final per-user state exactly the batch aggregate — the rare
    stateful op that earns a full hash-match oracle instead of a
    rows-only smoke (streaming/windows.py rationale)."""
    base = _replay_dir(spark, sf_dir)
    try:
        with _few_state_partitions(spark):
            stream = read_event_stream(spark, f"{base}/part*")
            totals = stateful_user_totals_stream(stream)
            run_available_now(totals, "stateful_totals_sink", output_mode="update")
        # Update-mode memory sink holds one row per (user, update);
        # the counters are monotone, so MAX picks each user's final state.
        return spark.sql(
            """
            SELECT user_id,
                   MAX(n_events) AS n_events,
                   MAX(total_cents) / CAST(100 AS DOUBLE) AS total_value
            FROM stateful_totals_sink
            GROUP BY user_id
            """
        )
    finally:
        pass  # base is session-memoized (r13) — never delete it here


@graded("stream_stream_join_smoke", oracle=None)
def stream_stream_join_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (purchase ← same-user clicks in the
    trailing hour) over the 3-micro-batch replay. State eviction is
    driven by both sides' 30-minute watermarks + the join's time
    bound; append-mode output. Batch equivalence (same join on the
    static table) is asserted in tests/test_streaming.py."""
    from ..streaming.windows import purchase_click_attribution_stream

    base = _replay_dir(spark, sf_dir)
    try:
        with _few_state_partitions(spark):

            def leg(event_type: str, prefix: str) -> DataFrame:
                return (
                    read_event_stream(spark, f"{base}/part*")
                    .where(F.col("event_type") == event_type)
                    .select(
                        F.col("user_id").alias(f"{prefix}_user"),
                        F.col("ts").alias(f"{prefix}_ts"),
                        F.col("event_id").alias(
                            "click_id" if prefix == "c" else "buy_id"
                        ),
                    )
                    .withWatermark(f"{prefix}_ts", "30 minutes")
                )

            pairs = purchase_click_attribution_stream(
                leg("click", "c"), leg("purchase", "b")
            )
            rows = run_available_now(pairs, "ssj_smoke", output_mode="append")
        return spark.createDataFrame(rows, pairs.schema)
    finally:
        pass  # base is session-memoized (r13) — never delete it here


@graded("stream_python_source", oracle=None)
def stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming read through the custom Python DataSource
    (sources/cd2_datasource.py): two part-files, two separate
    trigger-once runs SHARING one checkpoint — the second run resumes
    from the committed offset and reads only the unconsumed part,
    proving the since-token persistence the reference's syncdb relies
    on. Each micro-batch's raw record lines are typed by one codec,
    ``decode_envelope``, as in the batch read. Returns per-run row
    counts plus the combined action counts (equality with the full
    changeset asserted in tests/test_envelope.py)."""
    import tempfile

    from .merge import derive_changeset
    from ..sources.cd2_datasource import register
    from ..sources.envelope import decode_envelope, encode_envelope

    orders = load_table(spark, sf_dir, "orders")
    # written twice, once per part-file
    changeset = derive_changeset(orders).localCheckpoint(eager=False)
    wire = encode_envelope(changeset.drop("o_orderdate"), key_cols=["o_orderkey"])
    out = tempfile.mkdtemp(prefix="cda2_pystream_")
    ckpt = tempfile.mkdtemp(prefix="cda2_pystream_ckpt_")
    sink_dir = tempfile.mkdtemp(prefix="cda2_pystream_sink_")
    try:
        for i in range(2):
            wire.where(F.crc32("record") % 2 == i).coalesce(1).write.mode(
                "overwrite"
            ).text(f"{out}/part{i}")
        register(spark)

        def run_once() -> int:
            # Memory sinks cannot recover a checkpoint; the parquet
            # sink can — which is also the honest replica-landing shape.
            records = (
                spark.readStream.format("cd2_envelope")
                .option("path", f"{out}/part*/*.txt")
                .load()
            )
            q = (
                decode_envelope(
                    records, table="orders", key_cols=["o_orderkey"], record_col="value"
                )
                .writeStream.format("parquet")
                .option("path", sink_dir)
                .option("checkpointLocation", ckpt)
                .trigger(once=True)
                .start()
            )
            q.awaitTermination()
            return spark.read.parquet(sink_dir).count()

        total1 = run_once()  # consumes part0 only
        total2 = run_once()  # resumes from the committed offset → part1
        landed = spark.read.parquet(sink_dir)
        # Per-run totals are scalars from the resume protocol (metadata,
        # not data); attach as literals so the landed-action counts never
        # pass through the driver. NB: do not rebind `out` — it is the
        # input tempdir the finally block must delete.
        result = (
            landed.groupBy("action")
            .agg(F.count("*").alias("n"))
            .withColumn("run1_rows", F.lit(total1).cast("long"))
            .withColumn("run2_rows", F.lit(total2 - total1).cast("long"))
            .orderBy("action")
        )
        return materialize_outliving(result, sink_dir)
    finally:
        for d in (out, ckpt, sink_dir):
            shutil.rmtree(d, ignore_errors=True)


# --- OHLC downsample (hypertable rollup shape) ----------------------------------

_OHLC_ORACLE = """
SELECT user_id,
       epoch_us(ts) // 3600000000 AS hr,
       first(value ORDER BY ts, event_id) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       last(value ORDER BY ts, event_id) AS close,
       COUNT(*) AS n
FROM events
GROUP BY user_id, hr
"""


@graded("timeseries_downsample_ohlc", oracle=_OHLC_ORACLE)
def timeseries_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, hour) open/high/low/close downsample — the
    hypertable-rollup shape that turns a raw tick stream into a
    fixed-rate series. ``min_by``/``max_by`` on a (ts, event_id)
    struct pick open/close in the same single hash-agg pass as
    high/low — no sort, no window; values are picked (never summed)
    so doubles are exact. Partial min_by/max_by states combine
    map-side, so the shuffle carries one row per (user, hour)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hr", F.expr("unix_micros(ts) DIV 3600000000"))
        .groupBy("user_id", "hr")
        .agg(
            F.expr("min_by(value, struct(ts, event_id))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, struct(ts, event_id))").alias("close"),
            F.count("*").alias("n"),
        )
    )


# --- duration-capped sessionization (sequential state per user) -----------------

# Session break rule: gap > 30 min since the previous event OR the
# session would exceed 2 h total duration — the second condition makes
# assignment inherently sequential (each break depends on the running
# session START, which earlier breaks determine), so no fixed window
# or gaps-islands trick expresses it. Spark: ordered applyInPandas
# fold per user. Oracle: DuckDB recursive CTE replays the same fold.
_CAPPED_SESSION_ORACLE = """
WITH RECURSIVE ev AS (
  SELECT user_id, ts,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
walk AS (
  SELECT user_id, ts, rn, 0 AS sess, ts AS sess_start
  FROM ev WHERE rn = 1
  UNION ALL
  SELECT e.user_id, e.ts, e.rn,
         CASE WHEN e.ts > w.ts + INTERVAL 30 MINUTE
                OR e.ts > w.sess_start + INTERVAL 2 HOUR
              THEN w.sess + 1 ELSE w.sess END,
         CASE WHEN e.ts > w.ts + INTERVAL 30 MINUTE
                OR e.ts > w.sess_start + INTERVAL 2 HOUR
              THEN e.ts ELSE w.sess_start END
  FROM walk w JOIN ev e ON e.user_id = w.user_id AND e.rn = w.rn + 1
)
SELECT user_id, CAST(sess AS BIGINT) AS session_id,
       COUNT(*) AS n_events, MIN(ts) AS t_start, MAX(ts) AS t_end
FROM walk
GROUP BY user_id, sess
"""


@graded("stream_session_capped", oracle=_CAPPED_SESSION_ORACLE)
def stream_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with BOTH a 30-min inactivity gap and a 2-h
    duration cap. The cap couples every assignment to the running
    session start, so this is a true sequential fold — per-user
    ordered applyInPandas (state: previous ts + session start),
    parallel across users; the same fold runs under
    applyInPandasWithState in the streaming twin of
    stream_stateful_totals. Oracle: recursive-CTE replay, so even
    this beyond-SQL operator hash-matches."""
    import numpy as np
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")

    GAP_NS = 30 * 60 * 10**9
    CAP_NS = 2 * 3600 * 10**9

    def sessionize(pdf: pd.DataFrame) -> pd.DataFrame:
        # Session-at-a-time jumps instead of a row-at-a-time Timestamp
        # fold (identical semantics, far less Python): within a session
        # there is no gap-break (the next one is precomputed in `gaps`)
        # and no cap-break (searchsorted finds the first ts > start +
        # cap), so each loop iteration closes one whole session; the
        # aggregates then fall out of the sorted order (min = first
        # row, max = last) with no pandas groupby at all.
        ts = pdf["ts"].to_numpy(dtype="datetime64[ns]").astype("int64")
        t = ts[np.lexsort((pdf["event_id"].to_numpy(), ts))]
        n = len(t)
        gaps = np.flatnonzero(np.diff(t) > GAP_NS) + 1
        starts = []
        i = 0
        gi = 0
        while i < n:
            starts.append(i)
            while gi < len(gaps) and gaps[gi] <= i:
                gi += 1
            g = gaps[gi] if gi < len(gaps) else n
            c = np.searchsorted(t, t[i] + CAP_NS, side="right")
            i = min(g, c)
        s = np.asarray(starts, dtype="int64")
        e = np.append(s[1:], n)
        return pd.DataFrame(
            {
                "user_id": pdf["user_id"].iloc[0],
                "session_id": np.arange(len(s), dtype="int64"),
                "n_events": e - s,
                "t_start": t[s].astype("datetime64[ns]"),
                "t_end": t[e - 1].astype("datetime64[ns]"),
            }
        )

    # Explicit width: the post-shuffle stage would otherwise be AQE-
    # coalesced to ONE partition at fixture row counts, serializing all
    # 1 500 per-user folds through a single Python worker (measured
    # 12.5 s → ~2 s with the explicit 32-way exchange).
    return (
        ev.repartition(32, "user_id")
        .groupBy("user_id")
        .applyInPandas(
            sessionize,
            "user_id long, session_id long, n_events long,"
            " t_start timestamp, t_end timestamp",
        )
    )


# --- EXT: CUSUM changepoint flags ------------------------------------------------

# Mean-free cumulative-sum drift detection per event_type. The CUSUM
# statistic C_k = Σ_{i≤k}(x_i − μ) is kept exact by clearing the
# denominator: dev_k = cum_k·n − k·sum (pure BIGINT; cents ≤ 1e5,
# n ≤ 1e5 → |dev| < 1e15 ≪ 2^63). The flag threshold compares
# integers (|dev| ≥ 1000·n ⇔ |C_k| ≥ $10), so row membership is
# exact; the reported magnitude is one unrounded double division over
# identical integer operands (bit-identical — ROUND(,4) would add a
# cross-engine half-tie hazard on exact .xxxx5 quotients).
_CUSUM_ORACLE = """
WITH e AS (
  SELECT event_type, ts, event_id,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
st AS (
  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_t,
         CAST(SUM(cents) AS BIGINT) AS sum_t
  FROM e GROUP BY event_type
),
cu AS (
  SELECT event_type, ts, event_id,
         CAST(SUM(cents) OVER (PARTITION BY event_type ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
              AS BIGINT) AS k
  FROM e
)
SELECT cu.event_type, cu.ts, cu.event_id,
       CAST(cu.cum * st.n_t - cu.k * st.sum_t AS DOUBLE)
         / st.n_t / 100.0 AS cusum_usd
FROM cu JOIN st USING (event_type)
WHERE abs(cu.cum * st.n_t - cu.k * st.sum_t) >= 1000 * st.n_t
"""


@graded("timeseries_changepoint", oracle=_CUSUM_ORACLE)
def timeseries_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift monitor: rows where the mean-free cumulative sum of
    a series exceeds $10 — the changepoint/level-shift detector. One
    window exchange on event_type serves the running sum and the row
    counter; the per-type totals broadcast back. Per-row state is one
    BIGINT, so the operator streams at any scale (and maps 1:1 onto
    the stateful-aggregation form for the online variant)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    e = ev.select("event_type", "ts", "event_id", cents.alias("cents"))
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_t"), F.sum("cents").alias("sum_t")
    )
    w_ord = Window.partitionBy("event_type").orderBy("ts", "event_id")
    cu = e.select(
        "event_type",
        "ts",
        "event_id",
        F.sum("cents")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
        F.row_number().over(w_ord).cast("long").alias("k"),
    )
    dev = F.col("cum") * F.col("n_t") - F.col("k") * F.col("sum_t")
    return (
        cu.join(F.broadcast(st), "event_type")
        .where(F.abs(dev) >= 1000 * F.col("n_t"))
        .select(
            "event_type",
            "ts",
            "event_id",
            (dev.cast("double") / F.col("n_t") / 100.0).alias("cusum_usd"),
        )
    )


# --- EXT: hour-of-day seasonality profile ----------------------------------------

# Seasonal decomposition's first factor: the hour-of-day load/value
# profile per event type. Exact BIGINT cents keep the mean and the
# share to one double division each over identical operands, so the
# raw doubles are bit-identical — deliberately NOT rounded: ROUND(,4)
# would introduce cross-engine half-tie hazards (s/n/100 lands on
# exact .xxxx5 decimals for small n), the opposite of its usual role.
_SEASONALITY_ORACLE = """
WITH e AS (
  SELECT event_type, CAST(hour(ts) AS INTEGER) AS hod,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events
),
g AS (
  SELECT event_type, hod, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(cents) AS BIGINT) AS sum_cents
  FROM e GROUP BY event_type, hod
),
t AS (
  SELECT event_type, CAST(SUM(sum_cents) AS BIGINT) AS total_cents
  FROM g GROUP BY event_type
)
SELECT g.event_type, g.hod, g.n,
       CAST(g.sum_cents AS DOUBLE) / g.n / 100.0 AS mean_usd,
       CAST(g.sum_cents AS DOUBLE) / t.total_cents AS value_share
FROM g JOIN t USING (event_type)
"""


@graded("timeseries_seasonality", oracle=_SEASONALITY_ORACLE)
def timeseries_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile per event type (count, mean value,
    share of the type's total) — the seasonal-naive baseline a
    forecaster or anomaly detector subtracts first. Two map-side-
    combinable hash aggs; the per-type totals re-aggregate the 24-row
    profile, not the raw stream, and broadcast back."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.hour("ts").alias("hod"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    g = e.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents")
    )
    t = g.groupBy("event_type").agg(F.sum("sum_cents").alias("total_cents"))
    return (
        g.join(F.broadcast(t), "event_type")
        .select(
            "event_type",
            "hod",
            "n",
            (F.col("sum_cents").cast("double") / F.col("n") / 100.0).alias(
                "mean_usd"
            ),
            (F.col("sum_cents").cast("double") / F.col("total_cents")).alias(
                "value_share"
            ),
        )
    )


# --- EXT: autocorrelation function over the hourly series ------------------------

# ACF at lags {1,2,3,6,12,24} of the hourly value series — the
# periodicity detector that justifies the seasonality profile. The
# series is an exact integer aggregate (cents per hour); each lag's
# Pearson r comes from six BIGINT power sums over the joined pairs
# (hourly cents < 2^20, ≤ 2^10 hours → every sum ≪ 2^63), finished by
# one mirrored IEEE expression. n·Σxy − Σx·Σy style products stay
# inside the double-exact 2^53 window after the CAST.
_ACF_ORACLE = """
WITH hourly AS (
  SELECT epoch_us(ts) // 3600000000 AS hr,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY hr
),
lags AS (SELECT unnest([1, 2, 3, 6, 12, 24]) AS lag),
pairs AS (
  SELECT l.lag, a.cents AS x, b.cents AS y
  FROM lags l
  JOIN hourly a ON TRUE
  JOIN hourly b ON b.hr = a.hr + l.lag
),
sums AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, n,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS acf
FROM sums
"""


@graded("timeseries_acf", oracle=_ACF_ORACLE)
def timeseries_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly total-value series at standard
    lags. The raw stream collapses to the hour grain FIRST (map-side-
    combinable agg) — the lag self-join and the per-lag sums then run
    on calendar-sized data (rows = hours), so the op costs one event
    scan plus metadata-scale joins at any corpus size."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.select(
            F.expr("unix_micros(ts) DIV 3600000000").alias("hr"),
            F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        )
        .groupBy("hr")
        .agg(F.sum("cents").alias("cents"))
        .localCheckpoint(eager=True)  # both sides of the lag join
    )
    lags = spark.range(0, 1).select(
        F.explode(F.array(*[F.lit(x) for x in (1, 2, 3, 6, 12, 24)])).alias("lag")
    )
    a = hourly.select(F.col("hr"), F.col("cents").alias("x"))
    b = hourly.select(F.col("hr").alias("hr_b"), F.col("cents").alias("y"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("hr_b") == F.col("hr") + F.col("lag"))
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy")
        - F.col("sy").cast("double") * F.col("sy")
    )
    return sums.select(
        F.col("lag").cast("int").alias("lag"), "n", (num / den).alias("acf")
    )


# --- EXT: online CUSUM, true streaming form (full oracle) -----------------------

# The streaming stateful op folds Σ(x − target) per event_type across
# micro-batches in integer cents; because the state is an exact
# integer and intra-batch order is pinned, the emitted flag set equals
# the batch window computation — giving a custom STREAMING operator a
# full DuckDB hash-match oracle (same rationale as
# stream_stateful_totals).
_CUSUM_STREAM_ORACLE = """
WITH c AS (
  SELECT event_type, ts, event_id,
         SUM(CAST(round(value * 100, 0) AS BIGINT) - 3000) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM events
)
SELECT event_type, ts, event_id, CAST(cum AS BIGINT) AS cusum_cents
FROM c WHERE abs(cum) >= 100000
"""


@graded("stream_cusum_flags", oracle=_CUSUM_STREAM_ORACLE)
def stream_cusum_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online CUSUM drift flags (fixed $30 control target, $1000
    threshold) over a 3-micro-batch replay via applyInPandasWithState
    — the control-chart monitor that never sees the full series.
    Exact integer state makes the streaming output hash-equal to the
    batch window form the oracle runs."""
    from ..streaming.windows import cusum_flags_stream

    base = _replay_dir(spark, sf_dir)
    try:
        with _few_state_partitions(spark):
            stream = cusum_flags_stream(
                read_event_stream(spark, f"{base}/part*"), 3000, 100_000
            )
            rows = run_available_now(stream, "cusum_flags_sink", output_mode="update")
        return spark.createDataFrame(
            rows, "event_type string, ts timestamp, event_id long, cusum_cents long"
        )
    finally:
        pass  # base is session-memoized (r13) — never delete it here


# --- EXT: inter-arrival gap statistics -------------------------------------------

# Arrival-process profile per event type: median and p95 inter-event
# gap. Gaps are exact integer microseconds (lag over the pinned
# (ts, event_id) order); the percentile interpolation runs on those
# integers — quantile_cont ≡ Spark percentile (verified by
# agg_percentile), and integer inputs keep the interpolation operands
# identical.
_GAP_STATS_ORACLE = """
WITH gaps AS (
  SELECT event_type,
         epoch_us(ts) - epoch_us(lag(ts) OVER (
           PARTITION BY event_type ORDER BY ts, event_id)) AS gap_us
  FROM events
)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(gap_us, 0.50) / 1000000.0, 4) AS p50_s,
       ROUND(quantile_cont(gap_us, 0.95) / 1000000.0, 4) AS p95_s
FROM gaps
WHERE gap_us IS NOT NULL
GROUP BY event_type
"""


@graded("timeseries_gap_stats", oracle=_GAP_STATS_ORACLE)
def timeseries_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median / p95 inter-arrival gap per event type — the arrival-
    process profile that sizes watermarks and session gaps. One window
    exchange on event_type produces exact integer-µs gaps; the
    percentile agg runs per type. At 100 TB swap the exact percentile
    for approx_percentile (same output contract)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gap_us"),
    ).where(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.expr("percentile(gap_us, 0.50)") / 1000000.0, 4).alias("p50_s"),
        F.round(F.expr("percentile(gap_us, 0.95)") / 1000000.0, 4).alias("p95_s"),
    )


# --- EXT: IQR outlier flags (robust anomaly detection) ---------------------------

# Tukey-fence outliers per event type: values outside
# [q1 − 1.5·IQR, q3 + 1.5·IQR] of the type's exact-cent quartiles.
# percentile ≡ quantile_cont on identical integer inputs (verified by
# agg_percentile), and the fences are mirrored expressions over those
# interpolated doubles — so flag membership is exact. Complements the
# z-score detector (timeseries_anomaly_zscore) with the
# outlier-robust form.
_IQR_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(CAST(round(value * 100, 0) AS BIGINT), 0.25) AS q1,
         quantile_cont(CAST(round(value * 100, 0) AS BIGINT), 0.75) AS q3
  FROM events GROUP BY event_type
)
SELECT e.event_type, e.event_id,
       CAST(round(e.value * 100, 0) AS BIGINT) AS cents,
       ROUND((q.q3 - q.q1) / 100.0, 4) AS iqr_usd,
       (CAST(round(e.value * 100, 0) AS BIGINT) < q.q1 - 1.5 * (q.q3 - q.q1)
        OR CAST(round(e.value * 100, 0) AS BIGINT) > q.q3 + 1.5 * (q.q3 - q.q1))
         AS is_outlier
FROM events e JOIN q ON q.event_type = e.event_type
WHERE CAST(round(e.value * 100, 0) AS BIGINT) < q.q1 - 1.5 * (q.q3 - q.q1)
   OR CAST(round(e.value * 100, 0) AS BIGINT) > q.q3 + 1.5 * (q.q3 - q.q1)
"""


@graded("timeseries_anomaly_iqr", oracle=_IQR_ORACLE)
def timeseries_anomaly_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outliers per event type over exact-cent quartiles —
    the robust complement to the rolling z-score detector (fences
    don't move when outliers do). Quartiles are a per-type agg whose
    tiny result broadcasts back onto the stream; at 100 TB swap the
    exact percentile for approx_percentile, same contract."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    q = ev.groupBy("event_type").agg(
        F.expr(
            "percentile(CAST(round(value * 100, 0) AS BIGINT), 0.25)"
        ).alias("q1"),
        F.expr(
            "percentile(CAST(round(value * 100, 0) AS BIGINT), 0.75)"
        ).alias("q3"),
    )
    iqr = F.col("q3") - F.col("q1")
    lo, hi = F.col("q1") - 1.5 * iqr, F.col("q3") + 1.5 * iqr
    flagged = (cents < lo) | (cents > hi)
    return (
        ev.join(F.broadcast(q), "event_type")
        .where(flagged)
        .select(
            "event_type",
            "event_id",
            cents.alias("cents"),
            F.round(iqr / 100.0, 4).alias("iqr_usd"),
            flagged.alias("is_outlier"),
        )
    )


# --- EXT: cross-correlation between two series -----------------------------------

# Lead–lag discovery: Pearson correlation between the hourly click
# series and the purchase series shifted by lag ∈ {−3..3} hours (does
# click volume lead purchases?). Series are exact integer aggregates
# on a shared hour spine (missing hours = 0 via the spine join), so
# all six power sums are BIGINT and the final r is one mirrored
# expression — the ACF machinery generalized across series.
_XCORR_ORACLE = """
WITH hours AS (
  SELECT epoch_us(ts) // 3600000000 AS hr,
         CAST(SUM(CASE WHEN event_type = 'click'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS x,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS y
  FROM events GROUP BY hr
),
lags AS (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS lag),
pairs AS (
  SELECT l.lag, a.x, b.y
  FROM lags l
  JOIN hours a ON TRUE
  JOIN hours b ON b.hr = a.hr + l.lag
),
sums AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag, n,
       (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
         / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
            * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)) AS xcorr
FROM sums
"""


@graded("timeseries_xcorr", oracle=_XCORR_ORACLE)
def timeseries_xcorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation of hourly click value against purchase value
    at lags −3..+3 — the lead–lag detector behind 'does X drive Y'.
    One conditional hourly agg builds both series in a single pass;
    the lag join and power sums run on calendar-sized data."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    hours = (
        ev.select(
            F.expr("unix_micros(ts) DIV 3600000000").alias("hr"),
            F.when(F.col("event_type") == "click", cents).otherwise(0).alias("xc"),
            F.when(F.col("event_type") == "purchase", cents)
            .otherwise(0)
            .alias("yc"),
        )
        .groupBy("hr")
        .agg(F.sum("xc").alias("x"), F.sum("yc").alias("y"))
        .localCheckpoint(eager=True)  # both sides of the lag join
    )
    lags = spark.range(0, 1).select(
        F.explode(
            F.array(*[F.lit(x) for x in (-3, -2, -1, 0, 1, 2, 3)])
        ).alias("lag")
    )
    a = hours.select("hr", "x")
    b = hours.select(F.col("hr").alias("hr_b"), "y")
    pairs = a.crossJoin(F.broadcast(lags)).join(
        b, F.col("hr_b") == F.col("hr") + F.col("lag")
    )
    sums = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy")
        - F.col("sy").cast("double") * F.col("sy")
    )
    return sums.select(
        F.col("lag").cast("int").alias("lag"), "n", (num / den).alias("xcorr")
    )


# --- EXT: STL-lite seasonal decomposition ---------------------------------------

# Trend/seasonal/residual split of the daily revenue series: trend is a
# centered 7-day moving average (full windows only), seasonal is the
# per-weekday mean of the detrended series, residual is the leftover.
# All arithmetic runs in the integer-cents domain; the only doubles are
# the /7 trend division (identical operands both engines) and the
# seasonal mean, whose addends are quantized to DECIMAL(38,9) before
# the order-independent sum. Weekday comes from an epoch-anchored
# datediff % 7 — engine-neutral, unlike dayofweek()'s dialects.
_STL_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY d
),
tr AS (
  SELECT d, cents,
         CASE WHEN COUNT(*) OVER w = 7
              THEN CAST(SUM(cents) OVER w AS DOUBLE) / 7 END AS trend_c,
         date_diff('day', DATE '2024-01-01', d) % 7 AS dow
  FROM daily
  WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
seas AS (
  SELECT dow,
         CAST(SUM(CAST(cents - trend_c AS DECIMAL(38,9))) AS DOUBLE)
           / COUNT(*) AS seasonal_c
  FROM tr WHERE trend_c IS NOT NULL GROUP BY dow
)
SELECT tr.d,
       ROUND(tr.cents / 100.0, 2) AS value,
       ROUND(tr.trend_c / 100.0, 4) + 0.0 AS trend,
       ROUND(s.seasonal_c / 100.0, 4) + 0.0 AS seasonal,
       ROUND((tr.cents - tr.trend_c - s.seasonal_c) / 100.0, 4) + 0.0 AS resid
FROM tr JOIN seas s USING (dow)
"""


@graded("timeseries_stl_lite", oracle=_STL_ORACLE)
def timeseries_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of daily revenue: centered-MA trend,
    weekday-mean seasonal, residual. The raw series collapses to a
    calendar-sized frame first (one partial-aggregated shuffle); the
    window and the seasonal join then run on days×1 rows, declared
    single-task via the unit group key."""
    from ..operators import ranks as R

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    w = (
        Window.partitionBy(R.UNIT_GROUP)  # calendar-sized frame
        .orderBy("d")
        .rowsBetween(-3, 3)
    )
    tr = R.attach_unit_group(daily).select(
        "d",
        "cents",
        F.when(
            F.count("*").over(w) == 7,
            F.sum("cents").over(w).cast("double") / 7,
        ).alias("trend_c"),
        F.expr("datediff(d, DATE '2024-01-01') % 7").alias("dow"),
    )
    seas = (
        tr.where(F.col("trend_c").isNotNull())
        .groupBy("dow")
        .agg(
            (
                F.sum(
                    (F.col("cents") - F.col("trend_c")).cast("decimal(38,9)")
                ).cast("double")
                / F.count("*")
            ).alias("seasonal_c")
        )
    )
    return tr.join(F.broadcast(seas), "dow").select(
        "d",
        F.round(F.col("cents") / 100.0, 2).alias("value"),
        F.round(F.col("trend_c") / 100.0, 4).alias("trend"),
        F.round(F.col("seasonal_c") / 100.0, 4).alias("seasonal"),
        F.round(
            (F.col("cents") - F.col("trend_c") - F.col("seasonal_c")) / 100.0, 4
        ).alias("resid"),
    )


# --- EXT: seasonal-naive forecast backtest --------------------------------------

# The baseline every forecasting stack must beat: predict each day with
# the value one season (7 days) earlier, then score MAE/RMSE over the
# days that have a prediction. Errors are integer cents, so both
# aggregates are exact; sqrt runs on identical operands.
_SNAIVE_ORACLE = """
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY d
),
lagged AS (
  SELECT d, cents,
         LAG(cents, 7) OVER (ORDER BY d) AS pred
  FROM daily
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_scored,
       ROUND(CAST(SUM(ABS(cents - pred)) AS DOUBLE) / COUNT(*) / 100.0, 4)
         AS mae,
       ROUND(sqrt(CAST(SUM((cents - pred) * (cents - pred)) AS DOUBLE)
                  / COUNT(*)) / 100.0, 4) AS rmse
FROM lagged WHERE pred IS NOT NULL
"""


@graded("timeseries_snaive_backtest", oracle=_SNAIVE_ORACLE)
def timeseries_snaive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive (lag-7) forecast backtest over daily revenue:
    one calendar-sized lag window (declared single-task via the unit
    group key) + one exact integer error rollup."""
    from ..operators import ranks as R

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )
    w = Window.partitionBy(R.UNIT_GROUP).orderBy("d")  # calendar-sized
    lagged = (
        R.attach_unit_group(daily)
        .withColumn("pred", F.lag("cents", 7).over(w))
        .where(F.col("pred").isNotNull())
    )
    err = F.col("cents") - F.col("pred")
    return lagged.agg(
        F.count("*").alias("n_scored"),
        F.round(
            F.sum(F.abs(err)).cast("double") / F.count("*") / 100.0, 4
        ).alias("mae"),
        F.round(
            F.sqrt((F.sum(err * err)).cast("double") / F.count("*")) / 100.0, 4
        ).alias("rmse"),
    )


# --- EXT: Holt linear-trend smoothing + forecast --------------------------------

# Double exponential smoothing per event-type series — the two-state
# recurrence (level + trend) that no built-in window expresses, run as
# a grouped-map pandas UDF with an explicitly ordered multiply-add
# sequence; the oracle replays the identical sequence in a recursive
# CTE. α = β = 0.5 are exact binary fractions, inputs are integer
# cents widened to double — every step is identical-operand IEEE, so
# the final states match bit-for-bit before the output ROUND.
_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY event_type, d
),
s AS (
  SELECT event_type, d, cents,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
  FROM daily
),
r(event_type, rn, l, b) AS (
  SELECT event_type, rn, CAST(cents AS DOUBLE), CAST(0 AS DOUBLE)
  FROM s WHERE rn = 1
  UNION ALL
  SELECT e.event_type, e.rn,
         CAST(0.5 AS DOUBLE) * e.cents + CAST(0.5 AS DOUBLE) * (r.l + r.b),
         CAST(0.5 AS DOUBLE)
           * ((CAST(0.5 AS DOUBLE) * e.cents
               + CAST(0.5 AS DOUBLE) * (r.l + r.b)) - r.l)
           + CAST(0.5 AS DOUBLE) * r.b
  FROM r JOIN s e ON e.event_type = r.event_type AND e.rn = r.rn + 1
),
last AS (
  SELECT event_type, MAX(rn) AS t FROM s GROUP BY event_type
)
SELECT r.event_type,
       CAST(l.t AS BIGINT) AS n_obs,
       ROUND(r.l / 100.0, 4) AS level,
       ROUND(r.b / 100.0, 4) AS trend,
       ROUND((r.l + 7 * r.b) / 100.0, 4) AS forecast_7d
FROM r JOIN last l ON r.event_type = l.event_type AND r.rn = l.t
"""


@graded("timeseries_holt_forecast", oracle=_HOLT_ORACLE)
def timeseries_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend smoothing per event-type series with a 7-day
    forecast. The raw stream collapses to series×days rows in one
    partial-aggregated shuffle; the sequential recurrence then runs as
    one applyInPandas task per series — the udf_ewma_recurrence
    pattern with two state variables."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("cents")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        import math

        def r4(x: float) -> float:
            # SQL ROUND(x, 4): half away from zero — Python's round()
            # is half-to-even and diverges on exact .00005 ties (the
            # cusum_flags_stream lesson).
            return math.copysign(math.floor(abs(x) * 1e4 + 0.5), x) / 1e4

        pdf = pdf.sort_values("d")
        xs = pdf["cents"].to_numpy()
        l, b = float(xs[0]), 0.0
        for x in xs[1:]:
            l_new = 0.5 * float(x) + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_obs": [len(xs)],
                "level": [r4(l / 100.0)],
                "trend": [r4(b / 100.0)],
                "forecast_7d": [r4((l + 7 * b) / 100.0)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        holt,
        "event_type string, n_obs long, level double, trend double,"
        " forecast_7d double",
    )


# --- T1 variant: windowed approx-distinct users (streaming sketch) --------------


@graded("stream_window_uniques_smoke", oracle=None)
def stream_window_uniques_smoke(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly approx-distinct users over the replayed stream:
    approx_count_distinct is a mergeable HLL sketch, so it composes
    with incremental window state where exact COUNT(DISTINCT) cannot
    (exact distinct in a stream needs unbounded per-window key state).
    Rows-only: sketch estimates have no DuckDB analog; the estimate's
    error envelope vs the exact batch count is asserted in
    tests/test_streaming.py."""
    base = _replay_dir(spark, sf_dir)
    try:
        with _few_state_partitions(spark):
            stream = read_event_stream(spark, f"{base}/part*")
            agg = (
                stream.withWatermark("ts", "10 minutes")
                .groupBy(F.window("ts", "1 hour"))
                .agg(
                    F.approx_count_distinct("user_id", rsd=0.02).alias(
                        "approx_users"
                    ),
                    F.count("*").alias("n_events"),
                )
                .select(
                    F.col("window.start").alias("bucket"),
                    "approx_users",
                    "n_events",
                )
            )
            rows = run_available_now(
                agg, "window_uniques_smoke", output_mode="complete"
            )
        return spark.createDataFrame(rows, agg.schema).orderBy("bucket")
    finally:
        pass  # base is session-memoized (r13) — never delete it here


# --- T3 variant: top navigation paths per session -------------------------------

# The product-analytics "top paths" table: the ordered event-type
# sequence inside each 30-minute session, counted corpus-wide. Path
# assembly is deterministic (events ordered by ts, event_id inside the
# session window); the count table is paths-cardinality — tiny next to
# the event stream — and TakeOrdered keeps only the top 20.
_SESSION_PATHS_ORACLE = """
WITH seq AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
flagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN prev_ts IS NULL
                   OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
              THEN 1 ELSE 0 END AS new_session
  FROM seq
),
sessions AS (
  SELECT user_id, ts, event_id, event_type,
         SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS session_id
  FROM flagged
),
paths AS (
  SELECT user_id, session_id,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM sessions GROUP BY user_id, session_id
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 20
"""


@graded("analytics_session_paths", oracle=_SESSION_PATHS_ORACLE)
def analytics_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 session navigation paths: session_window agg collects
    (ts, event_id, event_type) structs, array_sort orders them inside
    the session (struct order = field order, so ts then event_id —
    deterministic), concat_ws renders the path. One session shuffle +
    one paths-cardinality agg + TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    paths = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.expr(
                "concat_ws('>', transform(array_sort(collect_list("
                "struct(ts, event_id, event_type))), s -> s.event_type))"
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(20)
    )


# --- streaming SimHash near-dup pairing, hash-matched (r10) ----------------------

# The first streaming query in the repo graded by FULL SQL hash-match,
# not rows-only: Trigger.AvailableNow replays documents in three
# micro-batches through the incremental band-index pairing
# (streaming/dedup_pairs.py — new-vs-seen + new-vs-new equi-joins on
# the (band, value) key, append-only emission), and the accumulated
# pair set must equal the UNCAPPED banded derivation exactly. The
# oracle is deliberately the uncapped form: the batch builder's
# hub-star cap keys on GLOBAL group membership (a later batch can
# contain a smaller doc_id and change the hub), which is not
# expressible append-only — so the streaming twin's contract is the
# full clique semantics, and the batch/capped relationship is pinned
# separately (tests/test_streaming.py asserts streamed == capped batch
# whenever the corpus is in the uncapped regime). A production
# deployment bounds oversized band groups per micro-batch instead
# (batch-local cap), trading edges for the same bounded-join shape.
def _stream_pairs_oracle() -> str:
    from .shared_sql import SIMHASH_HAM_MAX, SIMHASH_SH_CTES

    return (
        SIMHASH_SH_CTES
        + f""",
bands AS MATERIALIZED (
  SELECT doc_id, simhash, b,
         CAST((simhash >> (b * 16)) & 65535 AS BIGINT) AS bv
  FROM sh, range(0, 4) t(b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a
JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
"""
    )


@graded("stream_simhash_pairs_replay", oracle=_stream_pairs_oracle())
def stream_simhash_pairs_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup pairing under Structured Streaming,
    hash-matched against the uncapped banded batch oracle (rationale
    above). Three micro-batches; per batch the work is
    batch × band-fan-out joins against the accumulated parquet band
    index — the 100 TB ingest shape, where a day's shard joins the
    corpus index instead of the corpus self-joining."""
    from ..streaming.dedup_pairs import simhash_pairs_replay

    docs = load_table(spark, sf_dir, "documents")
    tmp = tempfile.mkdtemp(prefix="cda2_shpairs_")
    try:
        docs_dir = os.path.join(tmp, "docs")
        docs.repartition(3).write.parquet(docs_dir)
        # Replay-scale shuffle clamp (same rationale as the stateful
        # replays): each of the 3 micro-batches runs several joins —
        # 32-way exchanges on ~kB frames are pure dispatch overhead.
        with _few_state_partitions(spark, 8):
            out = simhash_pairs_replay(
                spark, docs_dir, os.path.join(tmp, "work")
            )
        return materialize_outliving(out, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


# --- streaming SimHash pairing, PER-BATCH CAPPED (r11) ----------------------------

# The r10 module promised this variant: the uncapped replay above
# proves batch-equivalence, but a production ingest must bound join
# fan-out even when a band key goes degenerate (sf0.1 already has a
# 291-member band group). The capped path truncates every band group's
# posting list at SIMHASH_GROUP_CAP first arrivals; replayed in
# ascending doc_id ranges, "first arrival" == "smallest doc_id", so
# the emitted set is the order-free rank-truncated derivation below —
# a FULL hash-match (stronger than the rows-only grade the r10 verdict
# asked for), valid at every SF including the capped regime. Pair
# (a, b), a < b, is emitted iff a is among the cap smallest doc_ids of
# a shared band group (the smaller member is always admitted first, so
# "either admitted" collapses to "smaller admitted").
def _stream_pairs_capped_oracle() -> str:
    from .shared_sql import (
        SIMHASH_GROUP_CAP,
        SIMHASH_HAM_MAX,
        SIMHASH_SH_CTES,
    )

    return (
        SIMHASH_SH_CTES
        + f""",
bands AS MATERIALIZED (
  SELECT doc_id, simhash, b,
         CAST((simhash >> (b * 16)) & 65535 AS BIGINT) AS bv
  FROM sh, range(0, 4) t(b)
),
ranked AS (
  SELECT doc_id, simhash, b, bv,
         ROW_NUMBER() OVER (PARTITION BY b, bv ORDER BY doc_id) AS rn
  FROM bands
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ranked a
JOIN bands b ON a.b = b.b AND a.bv = b.bv AND a.doc_id < b.doc_id
WHERE a.rn <= {SIMHASH_GROUP_CAP}
  AND bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_HAM_MAX}
"""
    )


def _docs_replay_dir(spark: SparkSession, sf_dir: str, n_files: int = 3) -> str:
    """Split documents into n ascending-doc_id parquet files for
    replay (the shared range + mtime-stamp recipe, streaming/replay.py;
    the capped pairing's oracle equality needs batches in ascending id
    order so first-arrival admission equals smallest-id admission).
    Session-memoized (see _staged_split above)."""
    from ..streaming.replay import split_ordered

    return _staged_split(
        spark,
        sf_dir,
        "documents",
        n_files,
        lambda: split_ordered(
            load_table(spark, sf_dir, "documents"),
            "doc_id",
            n_files,
            prefix="cda2_shdocs_",
        ),
    )


@graded("stream_simhash_pairs_capped", oracle=_stream_pairs_capped_oracle())
def stream_simhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-fan-out streaming near-dup pairing: posting lists in
    the accumulated band index are truncated at SIMHASH_GROUP_CAP
    first arrivals, so per-batch join work is <= batch x 4 x cap rows
    at ANY corpus/key skew — the degenerate-corpus guarantee the
    uncapped replay lacks. Ascending-range replay makes the result the
    rank-truncated pair set (rationale above), graded as a full
    hash-match; tests additionally pin the index-boundedness invariant
    with a tiny cap."""
    from ..queries.shared_sql import SIMHASH_GROUP_CAP
    from ..streaming.dedup_pairs import simhash_pairs_replay_capped

    base = _docs_replay_dir(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cda2_shcapped_")
    try:
        with _few_state_partitions(spark, 8):
            out = simhash_pairs_replay_capped(
                spark, base, os.path.join(tmp, "work"), SIMHASH_GROUP_CAP
            )
        return materialize_outliving(out, tmp)
    finally:
        # base is session-memoized (r13) — never delete it here
        shutil.rmtree(tmp, ignore_errors=True)


# --- EXT: discrete-Fourier spectral peaks over the hourly series ------------------

# The spectral sibling of timeseries_acf/seasonality: |X_k| for the
# first 8 DFT frequencies of the hourly revenue series. Missing hours
# are implicit zeros (they add nothing to the sums), so the grid never
# materializes; magnitude is shift-invariant, but the trig arguments
# still use grid-relative hour indices for small-angle numerics. Each
# x·cos / x·sin product is identical-operand IEEE in both engines
# (shared 2π literal, identical expression shape) and the per-k sums
# use the DECIMAL(38,12) house recipe. One row-scale agg → ≤ n_hours·8
# skinny rows → an 8-row spectrum.
import math as _m

_TWO_PI = repr(2.0 * _m.pi)
_DFT_K = 8

_DFT_ORACLE = f"""
WITH hx AS (
  SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hh,
         CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY hh
),
grid AS (
  SELECT CAST(MIN(hh) AS BIGINT) AS h0,
         CAST(MAX(hh) - MIN(hh) + 1 AS BIGINT) AS n FROM hx
),
terms AS (
  SELECT k.k,
         CAST(SUM(CAST(hx.cents * cos(({_TWO_PI} * k.k * (hx.hh - grid.h0))
                                      / grid.n)
                       AS DECIMAL(38,12))) AS DOUBLE) AS c,
         CAST(SUM(CAST(hx.cents * sin(({_TWO_PI} * k.k * (hx.hh - grid.h0))
                                      / grid.n)
                       AS DECIMAL(38,12))) AS DOUBLE) AS s,
         CAST(MIN(grid.n) AS BIGINT) AS n
  FROM hx, grid, (SELECT unnest(range(1, {_DFT_K} + 1)) AS k) k
  GROUP BY k.k
)
SELECT k,
       ROUND(sqrt(c * c + s * s) / 100.0, 2) AS magnitude_usd,
       ROUND(CAST(n AS DOUBLE) / k, 2) AS period_hours
FROM terms
ORDER BY k
"""


@graded("timeseries_dft_top", oracle=_DFT_ORACLE)
def timeseries_dft_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-8-frequency DFT magnitudes of the hourly purchase-revenue
    series (spectral seasonality detection). Hourly collapse → 1-row
    grid attach → a literal 8-way frequency explode → one decimal-
    summed agg per (k); nothing after the first shuffle is
    corpus-sized and empty hours cost nothing."""
    import math

    ev = load_table(spark, sf_dir, "events")
    hx = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).cast("bigint").alias("hh")
        )
        .agg(
            F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("cents")
        )
    )
    grid = hx.agg(
        F.min("hh").cast("bigint").alias("h0"),
        (F.max("hh") - F.min("hh") + 1).cast("bigint").alias("n"),
    )
    two_pi = float(_TWO_PI)
    ang = (F.lit(two_pi) * F.col("k") * (F.col("hh") - F.col("h0"))) / F.col("n")
    terms = (
        hx.crossJoin(F.broadcast(grid))
        .select(
            "cents",
            "hh",
            "h0",
            "n",
            F.explode(
                F.sequence(F.lit(1).cast("long"), F.lit(_DFT_K).cast("long"))
            ).alias("k"),
        )
        .groupBy("k")
        .agg(
            F.sum((F.col("cents") * F.cos(ang)).cast("decimal(38,12)"))
            .cast("double")
            .alias("c"),
            F.sum((F.col("cents") * F.sin(ang)).cast("decimal(38,12)"))
            .cast("double")
            .alias("s"),
            F.min("n").cast("bigint").alias("n"),
        )
    )
    return terms.select(
        "k",
        F.round(
            F.sqrt(F.col("c") * F.col("c") + F.col("s") * F.col("s")) / 100.0, 2
        ).alias("magnitude_usd"),
        F.round(F.col("n").cast("double") / F.col("k"), 2).alias("period_hours"),
    ).orderBy("k")


# --- streaming incremental rollup, hash-matched replay (r11) -----------------------

# The second streaming-RUNTIME query graded by FULL SQL hash-match
# (after the SimHash pair replays): a materialized per-user rollup
# maintained by appending per-micro-batch PARTIAL aggregates and
# re-aggregating at read — the classic "streaming ingest + additive
# rollup" lakehouse shape (counts and sums merge by addition, so
# partials never need the base re-scanned; the same algebra the IVM
# family exploits batch-side). Trigger.AvailableNow over three
# time-ordered replay files, foreachBatch writes each batch's
# (user_id, n, cents) partial, the checkpoint makes re-runs append
# nothing, and the final read-side re-aggregation must equal the batch
# GROUP BY exactly — order-free, hence a full oracle hash-match. Per
# batch the work is one map-side-combinable aggregate of the batch;
# the partial store grows by <= |keys| per batch regardless of batch
# rows.
_ROLLUP_ORACLE = """
WITH u AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents
  FROM events GROUP BY user_id
)
SELECT user_id, n_events, cents
FROM u
ORDER BY n_events DESC, user_id
LIMIT 20
"""


@graded("stream_rollup_replay", oracle=_ROLLUP_ORACLE)
def stream_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by event count from a streaming-maintained partial
    rollup (rationale above): 3-batch AvailableNow replay appends
    per-batch partial (n, cents) rows; the read-side re-aggregation
    hash-matches the batch GROUP BY."""
    from ..streaming.rollup import rollup_replay

    base = _replay_dir(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cda2_rollup_")
    try:
        with _few_state_partitions(spark, 8):
            rolled = rollup_replay(spark, f"{base}/part*", tmp)
        out = rolled.orderBy(F.col("n_events").desc(), "user_id").limit(20)
        return materialize_outliving(out, tmp)
    finally:
        # base is session-memoized (r13) — never delete it here
        shutil.rmtree(tmp, ignore_errors=True)


# --- streaming TTL rollup with event-time eviction, hash-matched replay (r13) -------

# The sixth streaming-RUNTIME query graded by FULL SQL hash-match, and
# the first whose maintained state SHRINKS: a trailing-7-day per-user
# rollup whose day-partitioned partials are physically EVICTED as the
# event-time high water advances (streaming/ttl_rollup.py — the
# "30-day active users" production shape). All five prior replay
# classes only accumulate (pair indexes, additive partials, gram
# census, capped sample); horizon-bounded state is the class where
# replaying a YEAR of history still holds seven days of partials —
# state is O(horizon × keys-in-horizon), never O(corpus). Grading is
# order-free because retention is BUCKET-granular event time: the
# surviving state re-aggregates to exactly the batch GROUP BY over
# day >= max_day - 6, so no arrival-order collapse is needed. Per
# batch: one map-side-combinable aggregate of the batch + a
# directory-manifest-sized partition drop (a lakehouse DROP PARTITION
# — never a rewrite of surviving state). Retry-safe by construction:
# writes are batch_id-keyed overwrites, the eviction cutoff is a pure
# function of the batch's own rows, and no accumulated state is read.
_TTL_ROLLUP_ORACLE = """
WITH mx AS (
  SELECT CAST(max(date_trunc('day', ts)) AS DATE) AS max_day FROM events
),
w AS (
  SELECT user_id,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(CASE WHEN event_type = 'purchase'
                       THEN CAST(round(value * 100, 0) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS cents
  FROM events, mx
  WHERE CAST(date_trunc('day', ts) AS DATE) >= max_day - INTERVAL 6 DAY
  GROUP BY user_id
)
SELECT user_id, n_events, cents
FROM w
ORDER BY n_events DESC, user_id
LIMIT 20
"""


@graded("stream_ttl_rollup_replay", oracle=_TTL_ROLLUP_ORACLE)
def stream_ttl_rollup_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 users by trailing-7-day event count from a streaming
    rollup with event-time TTL eviction (rationale above): a 3-batch
    AvailableNow replay writes day-partitioned per-batch partials and
    drops expired day partitions as its high water advances; the
    surviving state re-aggregates to the batch trailing-window GROUP
    BY and hash-matches it."""
    from ..streaming.ttl_rollup import ttl_rollup_replay

    base = _replay_dir(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cda2_ttl_rollup_")
    try:
        with _few_state_partitions(spark, 8):
            rolled = ttl_rollup_replay(spark, f"{base}/part*", tmp, 7)
        out = rolled.orderBy(F.col("n_events").desc(), "user_id").limit(20)
        return materialize_outliving(out, tmp)
    finally:
        # base is session-memoized (r13) — never delete it here
        shutil.rmtree(tmp, ignore_errors=True)


# --- streaming incremental novelty curve, hash-matched replay (r12) -----------------

# The third streaming-RUNTIME query graded by FULL SQL hash-match, and
# the first whose maintained state is CORPUS-sized (the seen-gram
# index) rather than key-bounded partials: the novelty statistic's
# first-seen attribution (MIN(doc_id) per gram) is monotone under
# append, so per-batch anti-join admission against the accumulated
# index reproduces the batch derivation exactly when batches replay in
# ascending doc_id ranges (first arrival == smallest id — the same
# collapse that grades the capped SimHash replay). Incremental
# maintenance is the production answer to "recompute the saturation
# curve after every ingest": per batch the work is batch-grams + one
# gram-keyed anti-join, and the curve refresh reads only doc-sized
# partials — the corpus-wide gram exchange the batch derivation pays
# per run is paid ONCE per gram ever.
from .shared_sql import NOVELTY_CURVE_ORACLE as _NOVELTY_CURVE_ORACLE


@graded("stream_novelty_replay", oracle=_NOVELTY_CURVE_ORACLE)
def stream_novelty_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-saturation novelty curve maintained by streaming ingest:
    3-batch ascending-id AvailableNow replay keeps a seen-gram index +
    per-doc partials (streaming/novelty.py); the read-side decile
    rollup hash-matches the batch text_novelty_curve derivation."""
    from ..streaming.novelty import novelty_replay

    base = _docs_replay_dir(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cda2_novelty_")
    try:
        with _few_state_partitions(spark, 8):
            per = novelty_replay(spark, base, os.path.join(tmp, "work"))
        docs = load_table(spark, sf_dir, "documents")
        mx = docs.agg(F.max("doc_id").alias("mxid"))
        out = (
            per.crossJoin(F.broadcast(mx))  # 1-row horizon attach
            .groupBy(
                F.expr("CAST(doc_id * 10 DIV (mxid + 1) AS BIGINT)").alias(
                    "decile"
                )
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum("n_grams").cast("bigint").alias("n_grams"),
                F.sum("n_novel").cast("bigint").alias("n_novel"),
                F.round(
                    F.sum("n_novel").cast("double")
                    / F.sum("n_grams").cast("double"),
                    4,
                ).alias("novelty_share"),
            )
            .orderBy("decile")
        )
        return materialize_outliving(out, tmp)
    finally:
        # base is session-memoized (r13) — never delete it here
        shutil.rmtree(tmp, ignore_errors=True)


# --- streaming weighted sample, hash-matched replay (r12) ---------------------------

# The fourth streaming-RUNTIME query graded by FULL SQL hash-match,
# and the third distinct maintained-state class: the SimHash pair
# replays keep an append-only posting index, the rollup keeps
# key-bounded additive partials, the novelty replay keeps a
# corpus-sized monotone gram index — this one keeps a CONSTANT-bounded
# summary (<= k candidate rows appended per batch), because the A-ES
# key is a stateless per-row expression and top-k is mergeable:
# top-k(union of per-batch top-ks) == top-k(corpus). No
# arrival-order collapse is even needed — ANY replay split yields the
# same sample — so the replay hash-matches the batch
# sample_weighted_priority oracle verbatim. This is "maintain a
# running weighted sample of everything ingested" at 100 TB: each
# document is paid once, the refresh reads k x batches rows.
from .shared_sql import WPS_K as _WPS_K, WPS_ORACLE as _WPS_ORACLE


@graded("stream_priority_sample_replay", oracle=_WPS_ORACLE)
def stream_priority_sample_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted 100-document A-ES sample maintained by streaming
    ingest (3-batch AvailableNow replay, <= k candidates appended per
    batch); the read-side top-k hash-matches the batch sampler."""
    from ..operators import ranks as RK
    from ..streaming.sampling import priority_sample_replay

    base = _docs_replay_dir(spark, sf_dir)
    tmp = tempfile.mkdtemp(prefix="cda2_wps_")
    try:
        with _few_state_partitions(spark, 8):
            cands = priority_sample_replay(
                spark, base, os.path.join(tmp, "work"), _WPS_K
            )
        topk = cands.orderBy(F.col("es_key").desc(), "doc_id").limit(_WPS_K)
        out = (
            RK.attach_unit_group(topk)
            .withColumn(
                "rank",
                F.row_number().over(
                    Window.partitionBy(RK.UNIT_GROUP).orderBy(
                        F.col("es_key").desc(), "doc_id"
                    )
                ),
            )
            .select(
                F.col("rank").cast("long"),
                "doc_id",
                "weight",
                F.round(F.col("es_key") * 1000000, 4).alias("key_ppm"),
            )
            .orderBy("rank")
        )
        return materialize_outliving(out, tmp)
    finally:
        # base is session-memoized (r13) — never delete it here
        shutil.rmtree(tmp, ignore_errors=True)


# --- EXT: Theil–Sen robust trend + Mann–Kendall test (r12) --------------------------

# The robust complement to the OLS-style trend readouts (holt/stl/
# snaive): the Sen slope is the MEDIAN of all pairwise slopes of the
# daily revenue series — a 29%-breakdown estimator a single corrupted
# day cannot move — and the Mann–Kendall S statistic (sum of pairwise
# sign concordances) is the matching distribution-free trend test,
# with Kendall's tau = S / n_pairs its effect size. Everything is
# exact: daily cents are BIGINT sums, S is a BIGINT sign sum, each
# pairwise slope is ONE double division over identical integer
# operands, and the median is positional selection over the sorted
# slope multiset ((a+b)/2 for even counts — the same IEEE ops in both
# engines). Plan: one day-keyed aggregate (the only corpus-sized
# exchange), then the day MANIFEST (30 rows here; thousands at any
# horizon) collapses to a single array row and the O(n_days^2) pair
# fan-out explodes from array HOFs — manifest-quadratic by design,
# never a data-sized join; a multi-year horizon windows the manifest
# first.
_THEIL_SEN_ORACLE = """
WITH e AS (
  SELECT CAST(ts AS DATE) AS d,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
daily AS (
  SELECT CAST(DATE_DIFF('day', DATE '1970-01-01', d) AS BIGINT) AS x,
         CAST(SUM(cents) AS BIGINT) AS y
  FROM e GROUP BY d
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily),
p AS (
  SELECT CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope,
         CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON b.x > a.x
),
sl AS (
  SELECT slope, ROW_NUMBER() OVER (ORDER BY slope) AS r,
         COUNT(*) OVER () AS m
  FROM p
),
med AS (
  SELECT AVG(slope) AS med_slope FROM sl
  WHERE r IN ((m + 1) // 2, (m + 2) // 2)
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(sgn) AS BIGINT) AS s_stat
  FROM p
)
SELECT n.n_days, agg.n_pairs, agg.s_stat,
       ROUND(CAST(agg.s_stat AS DOUBLE) / agg.n_pairs, 6) AS kendall_tau,
       ROUND(med.med_slope / 100.0, 6) AS sen_slope_usd_per_day
FROM n, agg, med
"""


@graded("timeseries_theil_sen", oracle=_THEIL_SEN_ORACLE)
def timeseries_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sen's median pairwise slope + Mann–Kendall S / Kendall tau over
    the daily purchase-revenue series (rationale above the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100, 0).cast("long")
    daily = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("d"))
        .agg(F.sum(cents).cast("bigint").alias("y"))
        .select(
            F.datediff(F.col("d"), F.lit("1970-01-01")).cast("bigint").alias("x"),
            "y",
        )
    )
    pts_row = daily.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("x").alias("x"), F.col("y").alias("y")))
        ).alias("pts")
    )
    pairs = pts_row.select(
        F.size("pts").cast("bigint").alias("n_days"),
        F.explode(
            F.expr(
                "flatten(transform(pts, (p, i) ->"
                " transform(slice(pts, i + 2, size(pts)),"
                " q -> struct(p.x AS x1, p.y AS y1, q.x AS x2, q.y AS y2))))"
            )
        ).alias("pr"),
    ).select(
        "n_days",
        (
            (F.col("pr.y2") - F.col("pr.y1")).cast("double")
            / (F.col("pr.x2") - F.col("pr.x1")).cast("double")
        ).alias("slope"),
        F.when(F.col("pr.y2") > F.col("pr.y1"), 1)
        .when(F.col("pr.y2") < F.col("pr.y1"), -1)
        .otherwise(0)
        .alias("sgn"),
    )
    agg = pairs.agg(
        F.max("n_days").alias("n_days"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum("sgn").cast("bigint").alias("s_stat"),
        F.array_sort(F.collect_list("slope")).alias("s"),
    )
    med = F.expr(
        "(element_at(s, CAST((size(s) + 1) DIV 2 AS INT))"
        " + element_at(s, CAST((size(s) + 2) DIV 2 AS INT))) / 2"
    )
    return agg.select(
        "n_days",
        "n_pairs",
        "s_stat",
        F.round(
            F.col("s_stat").cast("double") / F.col("n_pairs"), 6
        ).alias("kendall_tau"),
        F.round(med / 100.0, 6).alias("sen_slope_usd_per_day"),
    )


# --- EXT: sessionization gap-parameter sweep (r12) -----------------------------------

# stream_session_stats sessionizes at ONE gap (30 min); the operating
# question is the SWEEP — how sensitive are session counts and shapes
# to the gap choice? The trick that makes the whole curve cost ONE
# window pass: every per-gap statistic is a function of the per-event
# NEIGHBOR GAPS alone. A session starts exactly where the gap to the
# previous event is >= g (or there is none), so n_sessions(g) is one
# conditional count; total session duration is the sum of intra-session
# gaps (< g), so mean duration needs no session assignment; and a
# session is a singleton exactly when BOTH neighbor gaps break. One
# lag+lead exchange on user_id, then a 4-row broadcast gap ladder over
# the per-event gap frame — the per-gap cumsum/re-sessionization the
# naive sweep pays 4x never happens. All counts exact integers;
# ratios are single divisions over identical operands (unrounded —
# the cusum rationale: ROUND adds half-tie hazards on exact ratios).
_GAP_SWEEP_MINUTES = [5, 15, 30, 60]

_GAP_SWEEP_ORACLE = f"""
WITH seq AS (
  SELECT user_id, ts, event_id,
         epoch_us(ts) - epoch_us(LAG(ts) OVER
           (PARTITION BY user_id ORDER BY ts, event_id)) AS gp,
         epoch_us(LEAD(ts) OVER
           (PARTITION BY user_id ORDER BY ts, event_id)) - epoch_us(ts) AS gn
  FROM events
),
gaps AS (SELECT CAST(unnest([{", ".join(map(str, _GAP_SWEEP_MINUTES))}])
                     AS BIGINT) AS gap_min),
ladder AS (
  SELECT g.gap_min, g.gap_min * 60000000 AS g_us, s.gp, s.gn
  FROM gaps g, seq s
)
SELECT gap_min,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN gp IS NULL OR gp >= g_us THEN 1 ELSE 0 END)
            AS BIGINT) AS n_sessions,
       CAST(SUM(CASE WHEN (gp IS NULL OR gp >= g_us)
                      AND (gn IS NULL OR gn >= g_us) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_singletons,
       CAST(SUM(CASE WHEN (gp IS NULL OR gp >= g_us)
                      AND (gn IS NULL OR gn >= g_us) THEN 1 ELSE 0 END)
            AS DOUBLE)
         / SUM(CASE WHEN gp IS NULL OR gp >= g_us THEN 1 ELSE 0 END)
         AS singleton_share,
       CAST(COUNT(*) AS DOUBLE)
         / SUM(CASE WHEN gp IS NULL OR gp >= g_us THEN 1 ELSE 0 END)
         AS mean_events_per_session,
       CAST(SUM(CASE WHEN gp < g_us THEN gp ELSE 0 END) AS DOUBLE)
         / SUM(CASE WHEN gp IS NULL OR gp >= g_us THEN 1 ELSE 0 END)
         / 1000000.0 AS mean_duration_s
FROM ladder
GROUP BY gap_min
ORDER BY gap_min
"""


@graded("stream_session_gap_sweep", oracle=_GAP_SWEEP_ORACLE)
def stream_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session count / singleton share / mean shape per gap parameter
    g in {5,15,30,60} min, from one neighbor-gap window pass + a 4-row
    broadcast ladder (rationale above the oracle)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))).alias("gp"),
        (F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")).alias("gn"),
    )
    gaps = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(g).cast("bigint") for g in _GAP_SWEEP_MINUTES])
        ).alias("gap_min")
    )
    ladder = seq.crossJoin(F.broadcast(gaps)).withColumn(  # 4-row gap ladder
        "g_us", F.col("gap_min") * 60000000
    )
    starts = F.when(
        F.col("gp").isNull() | (F.col("gp") >= F.col("g_us")), 1
    ).otherwise(0)
    single = F.when(
        (F.col("gp").isNull() | (F.col("gp") >= F.col("g_us")))
        & (F.col("gn").isNull() | (F.col("gn") >= F.col("g_us"))),
        1,
    ).otherwise(0)
    intra = F.when(F.col("gp") < F.col("g_us"), F.col("gp")).otherwise(0)
    return (
        ladder.groupBy("gap_min")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(starts).cast("bigint").alias("n_sessions"),
            F.sum(single).cast("bigint").alias("n_singletons"),
            F.sum(intra).alias("intra_us"),
        )
        .select(
            "gap_min",
            "n_events",
            "n_sessions",
            "n_singletons",
            (
                F.col("n_singletons").cast("double") / F.col("n_sessions")
            ).alias("singleton_share"),
            (F.col("n_events").cast("double") / F.col("n_sessions")).alias(
                "mean_events_per_session"
            ),
            (
                F.col("intra_us").cast("double")
                / F.col("n_sessions")
                / 1000000.0
            ).alias("mean_duration_s"),
        )
        .orderBy("gap_min")
    )


# --- event-time disorder census: the watermark-sizing instrument (r13) -------------

# Every withWatermark() in the tree carries a delay the operator
# author GUESSED. This query measures the right value from the data:
# given an ARRIVAL order and an EVENT time, a row's LATENESS is how
# far the event-time high water had already advanced past it on
# arrival: late = running_max(ts) - ts. The exact lateness
# distribution (p50/p95/p99/max + late-row share) IS the watermark
# decision table — "delay >= p99 keeps 99% of rows ahead of the
# watermark; the tail above it is what T4's late-data path would
# drop". The fixture's ingest sequence (event_id) is exactly
# time-sorted, so grading it directly would measure an all-zero
# vacuity; the instrument therefore grades the canonical
# bounded-jitter arrival model — each row leapfrogs a deterministic
# md5-derived 0..127 positions (arr_key = event_id + jitter), the
# "mostly ordered, bounded skew" shape real ingest has. Production
# callers feed the real arrival sequence; the math is identical.
# Distributed exactly like the engine's other global-order
# statistics: the running max is two-level (within-bucket window over
# arr_key DIV 1024 buckets — parallel across buckets, correct because
# the bucketing is monotone in the order key — plus a bucket-census
# prefix max; the census is rows/1024 and the same trick nests for
# another 1024x), and the quantile picks are rank selections via the
# range-partitioned global_row_number, never a single-task global
# window. All lateness values are exact BIGINT microseconds; the
# share uses the integer-domain millionths recipe.
_DISORDER_ORACLE = """
WITH e0 AS (
  SELECT event_id, epoch_us(ts) AS t_us,
         event_id + CAST(concat('0x',
             substring(md5(CAST(event_id AS VARCHAR)), 1, 8)) AS BIGINT) % 128
           AS arr_key
  FROM events
),
e AS (
  SELECT event_id, t_us, arr_key, arr_key // 1024 AS bkt FROM e0
),
w AS (
  SELECT event_id, t_us, bkt,
         CAST(MAX(t_us) OVER (PARTITION BY bkt ORDER BY arr_key, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS wmax
  FROM e
),
bm AS (SELECT bkt, CAST(MAX(t_us) AS BIGINT) AS bmax FROM e GROUP BY bkt),
bp AS (
  SELECT bkt,
         CAST(MAX(bmax) OVER (ORDER BY bkt
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT)
           AS pmax
  FROM bm
),
late AS (
  SELECT w.event_id,
         CAST(GREATEST(w.wmax, COALESCE(bp.pmax, w.wmax)) - w.t_us AS BIGINT)
           AS late_us
  FROM w JOIN bp USING (bkt)
),
r AS (
  SELECT late_us,
         CAST(ROW_NUMBER() OVER (ORDER BY late_us, event_id) AS BIGINT) AS rn
  FROM late
),
n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_late
  FROM late
)
SELECT n.n AS n_events, n.n_late,
       CAST(CAST((n.n_late * 2000000 + n.n) // (2 * n.n) AS BIGINT) AS DOUBLE)
         / 1000000.0 AS late_share,
       CAST(SUM(CASE WHEN rn = (n.n + 1) // 2 THEN late_us ELSE 0 END)
            AS DOUBLE) / 1000000.0 AS p50_s,
       CAST(SUM(CASE WHEN rn = (n.n * 95 + 99) // 100 THEN late_us ELSE 0 END)
            AS DOUBLE) / 1000000.0 AS p95_s,
       CAST(SUM(CASE WHEN rn = (n.n * 99 + 99) // 100 THEN late_us ELSE 0 END)
            AS DOUBLE) / 1000000.0 AS p99_s,
       CAST(MAX(late_us) AS DOUBLE) / 1000000.0 AS max_s
FROM r, n
GROUP BY n.n, n.n_late
"""


@graded("stream_disorder_stats", oracle=_DISORDER_ORACLE)
def stream_disorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact event-time disorder census in ingest order — late-row
    share and p50/p95/p99/max lateness seconds, i.e. the measured
    watermark-delay table (rationale above the oracle)."""
    from ..operators.ranks import global_row_number

    e = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.unix_micros("ts").alias("t_us"),
        F.expr(
            "event_id + conv(substring(md5(CAST(event_id AS STRING)), 1, 8),"
            " 16, 10) % 128"
        )
        .cast("bigint")
        .alias("arr_key"),
    ).select(
        "event_id", "t_us", "arr_key", F.expr("arr_key DIV 1024").alias("bkt")
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("arr_key", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w = e.select(
        "event_id",
        "t_us",
        "bkt",
        F.max("t_us").over(win).cast("bigint").alias("wmax"),
    )
    bm = e.groupBy("bkt").agg(F.max("t_us").cast("bigint").alias("bmax"))
    wbp = Window.orderBy("bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )  # bucket census: rows/1024, nests for another 1024x at scale
    bp = bm.select("bkt", F.max("bmax").over(wbp).cast("bigint").alias("pmax"))
    late = w.join(bp, "bkt").select(
        "event_id",
        (
            F.greatest(F.col("wmax"), F.coalesce(F.col("pmax"), F.col("wmax")))
            - F.col("t_us")
        )
        .cast("bigint")
        .alias("late_us"),
        # eager (r13): consumed twice below (the global rank AND the
        # 1-row census) — unmaterialized, both consumers re-ran the
        # two window passes + bucket join.
    ).localCheckpoint(eager=True)
    r = global_row_number(late, ["late_us", "event_id"], out="rn")
    n = late.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("late_us") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
    )
    return (
        r.crossJoin(F.broadcast(n))  # 1-row census attach
        .groupBy("n", "n_late")
        .agg(
            F.sum(
                F.when(F.col("rn") == F.expr("(n + 1) DIV 2"), F.col("late_us"))
                .otherwise(0)
            ).cast("double").alias("p50_us"),
            F.sum(
                F.when(
                    F.col("rn") == F.expr("(n * 95 + 99) DIV 100"),
                    F.col("late_us"),
                ).otherwise(0)
            ).cast("double").alias("p95_us"),
            F.sum(
                F.when(
                    F.col("rn") == F.expr("(n * 99 + 99) DIV 100"),
                    F.col("late_us"),
                ).otherwise(0)
            ).cast("double").alias("p99_us"),
            F.max("late_us").cast("double").alias("max_us"),
        )
        .select(
            F.col("n").alias("n_events"),
            "n_late",
            (
                F.expr("(n_late * 2000000 + n) DIV (2 * n)").cast("double")
                / F.lit(1000000.0)
            ).alias("late_share"),
            (F.col("p50_us") / F.lit(1000000.0)).alias("p50_s"),
            (F.col("p95_us") / F.lit(1000000.0)).alias("p95_s"),
            (F.col("p99_us") / F.lit(1000000.0)).alias("p99_s"),
            (F.col("max_us") / F.lit(1000000.0)).alias("max_s"),
        )
    )
