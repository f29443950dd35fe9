"""SparkSession factory + fixture table loading/registration.

Two entry paths exist:

1. Our own code (tests, bench) builds a session via :func:`get_spark`.
2. The grading driver hands us an externally built session; every graded
   query therefore calls :func:`configure` first, which applies the
   *runtime-settable* correctness configs (verified settable post-build):

   - ``spark.sql.legacy.parquet.nanosAsLong=true`` — mandatory or the
     ``events`` TIMESTAMP(NANOS) parquet refuses to load (SURVEY §8.2).
   - ``spark.sql.session.timeZone=UTC`` — DuckDB timestamps are
     UTC-naive; comparisons require a pinned session TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from . import schemas

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Runtime-settable SQL configs every graded query depends on.
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # AQE is on by default in 4.x; pin it anyway — the 100 TB plan relies
    # on runtime coalescing + skew-join splitting.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
}


def get_spark(
    app: str = "canvas_data_2_aws_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a session sized for the local harness.

    At 100 TB the same code runs under a cluster manager; only
    ``master`` / memory / ``shuffle.partitions`` change (see SCALE.md).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app)
        .master(master or f"local[{cpus}]")
        .config("spark.ui.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or min(int(cpus), 32)),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def configure(spark: SparkSession) -> SparkSession:
    """Apply runtime correctness configs to an externally built session."""
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A config locked by the host (static conf) — keep going; the
            # only hard requirement (nanosAsLong) is runtime-settable on
            # Spark 4.1 (verified).
            pass
    return spark


def materialize_outliving(df: DataFrame, tmp_dir: str) -> DataFrame:
    """Persist a graded query's result so the returned frame outlives
    its temp inputs WITHOUT a driver-sized collect.

    The pattern (proven in ``merge_bucketed_base``): write the result
    as parquet under ``tmp_dir``, re-read it, and eagerly
    ``localCheckpoint`` — the checkpoint's partition blocks live in
    executor storage and survive the caller's ``rmtree(tmp_dir)`` at
    ANY result size, where ``collect()``→``createDataFrame`` would
    ship the whole result through the driver (fine on a fixture,
    driver-OOM at 100 TB). Callers invoke this inside their
    ``try``, before the ``finally`` that deletes ``tmp_dir``.

    The output directory, ``tmp_dir/graded_out``, has a visible name:
    Spark skips a path that starts with ``_`` or ``.`` as hidden, and
    a re-read of such a path logs ``All paths were ignored``. A caller
    that also reads a table directory under ``tmp_dir`` keeps that
    table in its own subdirectory, out of the way of this one.
    """
    out = os.path.join(tmp_dir, "graded_out")
    df.write.mode("overwrite").parquet(out)
    return df.sparkSession.read.parquet(out).localCheckpoint(eager=True)


def partitions_for(df: DataFrame, split_bytes: int | None = None) -> int:
    """How many partitions ``df`` needs: ``max(1, ceil(B / split))``,
    where B is Catalyst's size estimate of the optimized plan (planning
    only, no job runs).

    ``split`` defaults to the split Spark's own file scan takes for B
    bytes (``FilePartition.maxSplitBytes``): ``min(maxPartitionBytes,
    max(openCostInBytes, B / cores))``, cores being
    ``spark.sql.files.minPartitionNum`` or the default parallelism. So
    a frame under one open cost (4 MiB by default) is one partition, a
    mid-size one keeps about one partition per core, and above
    ``cores × maxPartitionBytes`` there is one per
    ``maxPartitionBytes`` (128 MiB by default). ``optimize`` passes its
    own target file size instead."""
    jss = df.sparkSession._jsparkSession
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if split_bytes is None:
        conf = jss.sessionState().conf()
        cores = conf.filesMinPartitionNum()
        cores = cores.get() if cores.isDefined() else jss.leafNodeDefaultParallelism()
        split_bytes = min(
            conf.filesMaxPartitionBytes(),
            max(conf.filesOpenCostInBytes(), size // cores),
        )
    # A frame Catalyst cannot size (an RDD-backed one estimates 8 EiB)
    # gets Spark's largest partition count, which coalesce leaves as is.
    return max(1, min(-(-size // split_bytes), 2**31 - 1))


def sized(df: DataFrame) -> DataFrame:
    """``df`` coalesced to :func:`partitions_for` its bytes: the change
    path's one sizing rule, applied where it builds a frame whose
    partitioning nothing chose (a decoded changeset, a merged or
    bootstrapped table). A small commit, such as a ~1 % ``syncdb``
    cycle or a micro-batch, then runs as one task and one file instead
    of paying a task's and a file's fixed cost per scan split; a frame
    with fewer partitions than the rule keeps them."""
    return df.coalesce(partitions_for(df))


def parallelism(spark: SparkSession, factor: int = 1) -> int:
    """Target partition count for CPU-bound stages: the larger of the
    session's shuffle partitioning and ``factor ×`` the cluster's total
    cores (``defaultParallelism``) — scale-adaptive, not a local-mode
    constant. ``factor > 1`` oversplits for quadratic per-key work
    (salted pair joins)."""
    return max(
        int(spark.conf.get("spark.sql.shuffle.partitions")),
        factor * spark.sparkContext.defaultParallelism,
    )


def spread(df: DataFrame, *cols: str, factor: int = 1) -> DataFrame:
    """Raise a narrow pipeline's parallelism before CPU-heavy per-row
    work (guide §2.5 input skew / §6: every fixture table is a
    single-row-group parquet file, so its scan stage — and any
    memoized checkpoint built from it — runs as ONE task at any core
    count, serializing the md5/explode/partial-agg/BLAS work that
    precedes the first exchange). Hash-partitions on ``cols`` when
    given (deterministic placement under task retry); round-robin
    otherwise (safe here: fixture scans are deterministic inputs).

    NO-OP when the frame is already at least that wide — at 100 TB the
    input arrives in thousands of splits, and an unconditional
    repartition would re-shuffle the whole corpus to fix a problem it
    doesn't have; the exchange only fires for under-split inputs, which
    is exactly guide §2.5's "one huge unsplittable file" remedy."""
    spark = df.sparkSession
    n = parallelism(spark, factor)
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:
        pass  # un-plannable frame (e.g. streaming) — just repartition
    return df.repartition(n, *cols) if cols else df.repartition(n)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Schema-true read of one fixture table (SURVEY §2.1 S1/S4).

    ``events.ts`` normalization is *type-adaptive*: older fixture drops
    encoded it as TIMESTAMP(NANOS) (surfacing as LongType ns under
    nanosAsLong, needing ``timestamp_micros(ts DIV 1000)``); current
    drops are plain timestamp[us] and read directly as a timestamp.
    Branching on the observed read type keeps both encodings loading
    bit-identically to DuckDB's µs read (SURVEY §8.2).
    """
    if name not in schemas.TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {schemas.TABLE_NAMES}")
    configure(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # Downstream ops (unix_micros, asof interpolation) require
            # TIMESTAMP; with the session TZ pinned to UTC the NTZ→LTZ
            # cast is wall-clock-identity, matching DuckDB's naive read.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return _align_drift(name, df)


def _norm_type(t: str) -> str:
    # NTZ-vs-LTZ is decided by the reading session's config
    # (parquet.inferTimestampNTZ), not by the table contract.
    return "timestamp" if t.startswith("timestamp") else t


# Numeric drift policy. Same-family WIDENING (file int32 under a
# declared bigint; file float32 under a declared double) is provably
# value-preserving — coerce silently. Narrowing or cross-family drift
# (double→bigint truncates fractions; bigint→int wraps under non-ANSI
# cast) is only accepted after a one-job round-trip proof that every
# value survives the cast; otherwise fail fast, matching the
# reference's DDL-regeneration policy. Anything non-numeric (renames,
# string↔numeric, dropped columns) is a REAL contract break → raise.
_NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}
_INT_WIDTH = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}
_FLOAT_WIDTH = {"float": 0, "double": 1}


def _is_widening(declared: str, actual: str) -> bool:
    for fam in (_INT_WIDTH, _FLOAT_WIDTH):
        if declared in fam and actual in fam:
            return fam[declared] >= fam[actual]
    return False


def _align_drift(name: str, df: DataFrame) -> DataFrame:
    """S4 drift policy (the reference regenerates DDL on a
    schema-version bump — SURVEY §1.1): same-family widening drift is
    coerced silently; lossy-looking numeric drift must prove itself
    with a round-trip cast over the actual values; incompatible drift
    fails fast. Nullability is storage metadata, not contract. Round 2
    taught the lesson: the driver CAN regenerate fixtures with changed
    physical types between rounds (events.ts nanos → µs)."""
    declared = schemas.TABLES[name]
    actual = df.schema.fields
    if [f.name for f in declared] != [f.name for f in actual]:
        raise ValueError(
            f"schema drift on table {name!r}: declared columns "
            f"{[f.name for f in declared]}, file has {[f.name for f in actual]}"
        )
    out, changed = [], False
    probes: list[tuple[str, object, object]] = []  # (col, declared, actual)
    for d, a in zip(declared, actual):
        dt, at = _norm_type(d.dataType.simpleString()), _norm_type(
            a.dataType.simpleString()
        )
        if dt == at:
            out.append(F.col(d.name))
        elif dt in _NUMERIC_TYPES and at in _NUMERIC_TYPES:
            out.append(F.col(d.name).cast(d.dataType).alias(d.name))
            changed = True
            if not _is_widening(dt, at):
                probes.append((d.name, d.dataType, a.dataType))
        else:
            raise ValueError(
                f"incompatible schema drift on {name}.{d.name}: declared "
                f"{dt}, file has {at} — bump the declared schema version"
            )
    if probes:
        # One job: per drifted column, count values the declared-type
        # round trip does NOT reproduce. try_cast (NULL instead of an
        # ANSI overflow error) makes out-of-range values countable;
        # Spark treats NaN = NaN as true, so float NaNs survive the
        # equality leg.
        def _bad(c: str, decl, act) -> F.Column:
            fwd = F.col(c).try_cast(decl)
            return F.sum(
                F.when(
                    F.col(c).isNotNull()
                    & (fwd.isNull() | (fwd.cast(act) != F.col(c))),
                    1,
                ).otherwise(0)
            ).alias(c)

        bad = df.agg(*[_bad(c, decl, act) for c, decl, act in probes]).first()
        lossy = [c for c, _, _ in probes if (bad[c] or 0) > 0]
        if lossy:
            raise ValueError(
                f"lossy numeric drift on table {name!r} columns {lossy}: "
                "values do not survive a cast to the declared type — "
                "bump the declared schema version"
            )
    return df.select(*out) if changed else df


def register_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every fixture table as a temp view; return the frames.

    Makes the whole SURVEY §2 surface SQL-addressable (lifecycle §3.2
    path 2) with identical Catalyst plans to the DataFrame API.
    """
    out: dict[str, DataFrame] = {}
    for name in schemas.TABLE_NAMES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
