"""End-to-end CLI lifecycle test: initdb → syncdb (JSONL changeset)
must reproduce exactly what the in-process merge operator computes."""

from __future__ import annotations

from pyspark.sql import functions as F

from canvas_data_2_aws_spark import cli, replica as replica_mod
from canvas_data_2_aws_spark.operators.merge import apply_changeset
from canvas_data_2_aws_spark.queries.merge import derive_changeset
from canvas_data_2_aws_spark.session import load_table
from canvas_data_2_aws_spark.sources.envelope import encode_envelope


def test_initdb_syncdb_lifecycle(spark, sf_dir, tmp_path):
    replica = str(tmp_path / "replica")
    changes_path = str(tmp_path / "changes")

    rc = cli.main(
        ["initdb", "--table", "orders", "--source-dir", sf_dir, "--replica", replica]
    )
    assert rc == 0

    orders = load_table(spark, sf_dir, "orders")
    changeset = derive_changeset(orders)
    encode_envelope(changeset, key_cols=["o_orderkey"]).coalesce(1).write.mode(
        "overwrite"
    ).text(changes_path)

    rc = cli.main(
        [
            "syncdb",
            "--table", "orders",
            "--changes", changes_path,
            "--key", "o_orderkey",
            "--replica", replica,
        ]
    )
    assert rc == 0

    merged = spark.read.parquet(replica_mod.table_dir(replica, "orders"))
    expected = apply_changeset(orders, changeset, keys=["o_orderkey"])
    assert merged.count() == expected.count()
    # PK-unique and deleted keys absent
    assert merged.select("o_orderkey").distinct().count() == merged.count()
    # deleted ORIGINAL keys absent (fresh inserts may land on %97 keys
    # above the original max — those legitimately survive)
    deleted = orders.where(F.col("o_orderkey") % 97 == 0).select("o_orderkey")
    assert merged.join(deleted, "o_orderkey", "left_semi").count() == 0
    # updated ORIGINAL keys carry the new payload (fresh inserts above
    # the original max keep their cloned status)
    max_key = orders.agg(F.max("o_orderkey")).first()[0]
    updated = merged.where(
        (F.col("o_orderkey") % 10 == 0)
        & (F.col("o_orderkey") % 97 != 0)
        & (F.col("o_orderkey") <= max_key)
    )
    assert updated.where(F.col("o_orderstatus") != "X").count() == 0


def test_cli_list_and_query(capsys, spark, sf_dir):
    assert cli.main(["list"]) == 0
    out = capsys.readouterr().out
    assert "agg_group_sum" in out and "oracle" in out

    assert cli.main(["query", "--name", "agg_group_sum", "--sf-dir", sf_dir]) == 0
    assert cli.main(["query", "--name", "nope", "--sf-dir", sf_dir]) == 2


def test_validate_verb_detects_drift(spark, sf_dir, tmp_path):
    """validate exits 0 on a faithful replica, 1 after it drifts."""
    replica = str(tmp_path / "vreplica")
    rc = cli.main(
        ["initdb", "--table", "orders", "--source-dir", sf_dir, "--replica", replica]
    )
    assert rc == 0
    base_args = [
        "validate",
        "--table", "orders",
        "--source-dir", sf_dir,
        "--replica", replica,
        "--key", "o_orderkey",
    ]
    assert cli.main(base_args) == 0

    # Drift: drop some rows from the replica in place (stage-then-swap).
    import shutil

    live = replica_mod.table_dir(replica, "orders")
    drifted = spark.read.parquet(live).where(F.col("o_orderkey") % 5 != 0)
    staging = str(tmp_path / "vstaging")
    drifted.write.mode("overwrite").parquet(staging)
    shutil.rmtree(live)
    shutil.move(staging, live)
    assert cli.main(base_args) == 1


def test_syncdb_compacts_multi_change_per_pk(spark, sf_dir, tmp_path):
    """A changeset touching one PK several times (update → update →
    delete for one key; delete → re-insert for another) must apply in
    meta.ts order: no duplicate-PK rows, last writer wins (the M3
    hazard in the r1 ADVICE)."""
    import json

    replica = str(tmp_path / "mc_replica")
    assert (
        cli.main(
            ["initdb", "--table", "orders", "--source-dir", sf_dir,
             "--replica", replica]
        )
        == 0
    )
    base = spark.read.parquet(replica_mod.table_dir(replica, "orders"))
    k1, k2 = [r.o_orderkey for r in
              base.orderBy("o_orderkey").limit(2).collect()]
    row = base.where(F.col("o_orderkey") == k1).first().asDict()

    def env(key, action, ts, status=None):
        rec = {"key": {"o_orderkey": key}, "meta": {"action": action, "ts": ts}}
        if action == "U":
            val = {c: v for c, v in row.items() if c != "o_orderkey"}
            val["o_orderstatus"] = status
            val["o_orderdate"] = str(val["o_orderdate"])
            rec["value"] = val
        return json.dumps(rec)

    lines = [
        env(k1, "U", 1, "A"),
        env(k1, "U", 2, "B"),
        env(k1, "D", 3),          # k1: final state = deleted
        env(k2, "D", 1),
        env(k2, "U", 2, "Z"),     # k2: final state = re-inserted as Z
    ]
    changes = tmp_path / "mc_changes.jsonl"
    changes.write_text("\n".join(lines) + "\n")

    assert (
        cli.main(
            ["syncdb", "--table", "orders", "--changes", str(changes),
             "--key", "o_orderkey", "--replica", replica]
        )
        == 0
    )
    merged = spark.read.parquet(replica_mod.table_dir(replica, "orders"))
    assert merged.select("o_orderkey").distinct().count() == merged.count()
    assert merged.where(F.col("o_orderkey") == k1).count() == 0
    k2_rows = merged.where(F.col("o_orderkey") == k2).collect()
    assert len(k2_rows) == 1 and k2_rows[0].o_orderstatus == "Z"


def test_validate_detects_double_and_date_drift(spark, sf_dir, tmp_path):
    """The digest must cover double and date columns (r1 ADVICE: they
    were silently excluded, letting o_totalprice corruption pass)."""
    import shutil

    replica = str(tmp_path / "ddreplica")
    assert (
        cli.main(
            ["initdb", "--table", "orders", "--source-dir", sf_dir,
             "--replica", replica]
        )
        == 0
    )
    base_args = [
        "validate", "--table", "orders", "--source-dir", sf_dir,
        "--replica", replica, "--key", "o_orderkey",
    ]
    assert cli.main(base_args) == 0

    # Never .cache() the pristine frame here: Spark's cache manager
    # matches read.parquet plans by path, so a later read of the
    # swapped-in corrupted files would silently serve pristine rows.
    backup = str(tmp_path / "ddbackup")
    live = replica_mod.table_dir(replica, "orders")
    shutil.copytree(live, backup)

    def swap(mutate):
        df = mutate(spark.read.parquet(backup))
        staging = str(tmp_path / "ddstaging")
        df.write.mode("overwrite").parquet(staging)
        shutil.rmtree(live)
        shutil.move(staging, live)

    # Corrupt a double column only — row count and PKs unchanged.
    swap(lambda df: df.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 11 == 0,
               F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")),
    ))
    assert cli.main(base_args) == 1

    # Corrupt the order-date column only (timestamp_ntz in-fixture).
    swap(lambda df: df.withColumn(
        "o_orderdate",
        F.when(F.col("o_orderkey") % 13 == 0,
               F.col("o_orderdate") + F.expr("INTERVAL 1 DAY"))
        .otherwise(F.col("o_orderdate")),
    ))
    assert cli.main(base_args) == 1


def test_optimize_compacts_and_preserves_content(spark, sf_dir, tmp_path):
    import glob

    replica = str(tmp_path / "replica")
    rc = cli.main(
        ["initdb", "--table", "orders", "--source-dir", sf_dir, "--replica", replica]
    )
    assert rc == 0
    # fragment the replica into many small files first
    live = replica_mod.table_dir(replica, "orders")
    frag = spark.read.parquet(live).repartition(16)
    frag.write.mode("overwrite").parquet(f"{replica}/orders__staging")
    import shutil

    shutil.rmtree(live)
    shutil.move(f"{replica}/orders__staging", live)
    before = spark.read.parquet(live)
    before_rows = before.count()
    before_sum = before.agg(F.sum("o_orderkey")).first()[0]
    assert len(glob.glob(f"{live}/part-*")) >= 16

    rc = cli.main(
        [
            "optimize",
            "--table", "orders",
            "--replica", replica,
            "--key", "o_orderkey",
            "--target-mb", "256",
        ]
    )
    assert rc == 0
    after_path = replica_mod.table_dir(replica, "orders")
    after = spark.read.parquet(after_path)
    assert after.count() == before_rows
    assert after.agg(F.sum("o_orderkey")).first()[0] == before_sum
    assert len(glob.glob(f"{after_path}/part-*")) < 16


def test_optimize_keeps_a_target_below_the_scan_split(spark, sf_dir, tmp_path):
    """``--target-mb`` smaller than a scan split still sets the file
    count, ceil(bytes / target), and each file holds one PK range, so
    the footers' min/max do not overlap."""
    import glob
    import math
    import os

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    replica = str(tmp_path / "optimize_small_target")
    assert cli.main(["initdb", "--table", "orders", "--source-dir", sf,
                     "--replica", replica]) == 0
    before = glob.glob(f"{replica_mod.table_dir(replica, 'orders')}/part-*")
    target = math.ceil(sum(os.path.getsize(f) for f in before) / 2**20)
    assert target >= 2, "the table must exceed one 1 MiB target"
    assert cli.main(["optimize", "--table", "orders", "--replica", replica,
                     "--key", "o_orderkey", "--target-mb", "1"]) == 0
    after = sorted(glob.glob(f"{replica_mod.table_dir(replica, 'orders')}/part-*"))
    assert len(after) == target
    ranges = sorted(
        tuple(spark.read.parquet(f).agg(F.min("o_orderkey"), F.max("o_orderkey")).first())
        for f in after
    )
    assert all(hi < nxt_lo for (_, hi), (nxt_lo, _) in zip(ranges, ranges[1:])), ranges


def _delete_changeset(tmp_path, name, key_col, keys):
    import json

    lines = [
        json.dumps({"key": {key_col: int(k)}, "meta": {"action": "D", "ts": 1}})
        for k in keys
    ]
    path = tmp_path / name
    path.write_text("\n".join(lines) + "\n")
    return str(path)


def test_syncdb_multi_table_atomic_commit(spark, sf_dir, tmp_path):
    """One syncdb invocation over two tables advances both tables AND
    the high-water token in a single manifest commit."""
    replica = str(tmp_path / "mt_replica")
    for t in ("orders", "customer"):
        assert cli.main(
            ["initdb", "--table", t, "--source-dir", sf_dir, "--replica", replica]
        ) == 0
    o_keys = [r.o_orderkey for r in
              spark.read.parquet(replica_mod.table_dir(replica, "orders"))
              .orderBy("o_orderkey").limit(3).collect()]
    c_keys = [r.c_custkey for r in
              spark.read.parquet(replica_mod.table_dir(replica, "customer"))
              .orderBy("c_custkey").limit(2).collect()]
    o_before = spark.read.parquet(replica_mod.table_dir(replica, "orders")).count()
    c_before = spark.read.parquet(replica_mod.table_dir(replica, "customer")).count()
    version_before = replica_mod.load(replica)["version"]

    rc = cli.main([
        "syncdb", "--replica", replica, "--token", "tok-42",
        "--table", "orders",
        "--changes", _delete_changeset(tmp_path, "o.jsonl", "o_orderkey", o_keys),
        "--key", "o_orderkey",
        "--table", "customer",
        "--changes", _delete_changeset(tmp_path, "c.jsonl", "c_custkey", c_keys),
        "--key", "c_custkey",
    ])
    assert rc == 0

    man = replica_mod.load(replica)
    assert man["token"] == "tok-42"
    assert man["version"] == version_before + 1
    o_now = spark.read.parquet(replica_mod.table_dir(replica, "orders"))
    c_now = spark.read.parquet(replica_mod.table_dir(replica, "customer"))
    assert o_now.count() == o_before - len(o_keys)
    assert c_now.count() == c_before - len(c_keys)
    # the superseded initdb versions were vacuumed after the commit
    import os

    dirs = {d for d in os.listdir(replica) if os.path.isdir(os.path.join(replica, d))}
    assert dirs == {e["dir"] for e in man["tables"].values()}


def test_syncdb_failed_midsync_leaves_prior_manifest(spark, sf_dir, tmp_path,
                                                     monkeypatch):
    """A sync that dies after staging (commit never runs) must leave the
    prior manifest — data AND token — fully intact, and the next run
    reclaims the staged garbage."""
    import os

    replica = str(tmp_path / "crash_replica")
    for t in ("orders", "customer"):
        assert cli.main(
            ["initdb", "--table", t, "--source-dir", sf_dir, "--replica", replica]
        ) == 0
    o_keys = [r.o_orderkey for r in
              spark.read.parquet(replica_mod.table_dir(replica, "orders"))
              .orderBy("o_orderkey").limit(2).collect()]
    ch = _delete_changeset(tmp_path, "ok.jsonl", "o_orderkey", o_keys)

    # Establish a committed baseline (manifest v1, token tok-1).
    assert cli.main([
        "syncdb", "--replica", replica, "--token", "tok-1",
        "--table", "orders", "--changes", ch, "--key", "o_orderkey",
    ]) == 0
    man_before = replica_mod.load(replica)
    o_rows = spark.read.parquet(replica_mod.table_dir(replica, "orders")).count()
    c_rows = spark.read.parquet(replica_mod.table_dir(replica, "customer")).count()

    # Crash INSIDE the commit: both tables stage fine, the manifest
    # replace itself dies (power-loss analog at the last instant).
    c_keys = [r.c_custkey for r in
              spark.read.parquet(replica_mod.table_dir(replica, "customer"))
              .orderBy("c_custkey").limit(2).collect()]
    ch2 = _delete_changeset(tmp_path, "c2.jsonl", "c_custkey", c_keys)

    def boom(*a, **kw):
        raise OSError("simulated crash during manifest replace")

    monkeypatch.setattr(replica_mod.os, "replace", boom)
    import pytest

    with pytest.raises(OSError):
        cli.main([
            "syncdb", "--replica", replica, "--token", "tok-2",
            "--table", "orders", "--changes", ch, "--key", "o_orderkey",
            "--table", "customer", "--changes", ch2, "--key", "c_custkey",
        ])
    monkeypatch.undo()

    # Prior manifest intact: same token, same version, same dirs, same data.
    man_after = replica_mod.load(replica)
    assert man_after == man_before
    assert man_after["token"] == "tok-1"
    assert spark.read.parquet(
        replica_mod.table_dir(replica, "orders")).count() == o_rows
    assert spark.read.parquet(
        replica_mod.table_dir(replica, "customer")).count() == c_rows

    # Staged v2 leftovers exist now, and the next sync reclaims them
    # before re-staging (vacuum on entry), then commits cleanly.
    staged = f"__v{man_before['version'] + 1}"
    leftovers = [d for d in os.listdir(replica) if d.endswith(staged)]
    assert leftovers
    assert cli.main([
        "syncdb", "--replica", replica, "--token", "tok-2",
        "--table", "customer", "--changes", ch2, "--key", "c_custkey",
    ]) == 0
    assert replica_mod.load(replica)["token"] == "tok-2"
    assert spark.read.parquet(
        replica_mod.table_dir(replica, "customer")).count() == c_rows - len(c_keys)


def test_initdb_failed_write_keeps_prior_version(spark, sf_dir, tmp_path,
                                                 monkeypatch):
    """A second initdb whose source raises mid-write must leave the
    first initdb's rows readable and its manifest byte-identical; a
    clean rerun converges and leaves no staged directory behind."""
    import os

    import pytest

    replica = str(tmp_path / "init_crash")
    argv = ["initdb", "--table", "orders", "--source-dir", sf_dir,
            "--replica", replica]
    assert cli.main(argv) == 0
    manifest = os.path.join(replica, replica_mod.MANIFEST)
    with open(manifest, "rb") as fh:
        before = fh.read()
    rows = spark.read.parquet(replica_mod.table_dir(replica, "orders")).count()

    load_table = cli.session.load_table

    def poisoned(spark, source_dir, table):
        df = load_table(spark, source_dir, table)
        # Data-dependent: the write has started before a row raises.
        return df.withColumn("o_orderpriority", F.when(
            F.col("o_orderkey") > 100, F.raise_error(F.lit("injected initdb crash"))
        ).otherwise(F.col("o_orderpriority")))

    monkeypatch.setattr(cli.session, "load_table", poisoned)
    with pytest.raises(Exception, match="injected initdb crash"):
        cli.main(argv)
    monkeypatch.undo()

    with open(manifest, "rb") as fh:
        assert fh.read() == before
    assert spark.read.parquet(
        replica_mod.table_dir(replica, "orders")).count() == rows

    assert cli.main(argv) == 0
    man = replica_mod.load(replica)
    dirs = {d for d in os.listdir(replica) if os.path.isdir(os.path.join(replica, d))}
    assert dirs == {man["tables"]["orders"]["dir"]}
    assert spark.read.parquet(
        replica_mod.table_dir(replica, "orders")).count() == rows


def test_optimize_crash_at_manifest_swap_keeps_prior_version(spark, sf_dir, tmp_path,
                                                            monkeypatch):
    """An optimize whose manifest ``os.replace`` dies leaves the manifest
    byte-identical and the prior directory reading the same rows; a
    rerun commits and leaves only the live directory."""
    import os

    import pytest

    replica = str(tmp_path / "optimize_crash")
    assert cli.main(
        ["initdb", "--table", "orders", "--source-dir", sf_dir, "--replica", replica]
    ) == 0
    manifest = os.path.join(replica, replica_mod.MANIFEST)
    with open(manifest, "rb") as fh:
        before = fh.read()
    prior = replica_mod.table_dir(replica, "orders")
    rows = sorted(spark.read.parquet(prior).collect())
    argv = ["optimize", "--table", "orders", "--replica", replica,
            "--key", "o_orderkey"]
    real_replace = os.replace

    def crash_on_manifest(src, dst):
        if dst.endswith(replica_mod.MANIFEST):
            raise OSError("injected crash at the manifest swap")
        return real_replace(src, dst)

    monkeypatch.setattr(replica_mod.os, "replace", crash_on_manifest)
    with pytest.raises(OSError, match="injected crash"):
        cli.main(argv)
    monkeypatch.undo()

    with open(manifest, "rb") as fh:
        assert fh.read() == before
    assert replica_mod.table_dir(replica, "orders") == prior
    assert sorted(spark.read.parquet(prior).collect()) == rows

    assert cli.main(argv) == 0
    man = replica_mod.load(replica)
    dirs = {d for d in os.listdir(replica) if os.path.isdir(os.path.join(replica, d))}
    assert dirs == {man["tables"]["orders"]["dir"]}
    assert sorted(replica_mod.read(spark, replica, "orders").collect()) == rows


def test_syncdb_refuses_repeated_table(spark, sf_dir, tmp_path, capsys):
    """One table named twice in one syncdb is refused before anything is
    read: exit 2 and no manifest is written."""
    import os

    replica = str(tmp_path / "repeated")
    ch = _delete_changeset(tmp_path, "rep.jsonl", "o_orderkey", [1])
    argv = ["syncdb", "--replica", replica]
    for _ in range(2):
        argv += ["--table", "orders", "--changes", ch, "--key", "o_orderkey"]
    assert cli.main(argv) == 2
    assert "once per table" in capsys.readouterr().err
    assert not os.path.exists(os.path.join(replica, replica_mod.MANIFEST))


def test_syncdb_failed_staging_leaves_prior_manifest(spark, sf_dir, tmp_path):
    """If the SECOND table's changeset is unreadable, the first table's
    already-staged merge must not become visible (no partial commit)."""
    import pytest

    replica = str(tmp_path / "stage_replica")
    for t in ("orders", "customer"):
        assert cli.main(
            ["initdb", "--table", t, "--source-dir", sf_dir, "--replica", replica]
        ) == 0
    o_keys = [r.o_orderkey for r in
              spark.read.parquet(replica_mod.table_dir(replica, "orders"))
              .orderBy("o_orderkey").limit(2).collect()]
    ch = _delete_changeset(tmp_path, "s1.jsonl", "o_orderkey", o_keys)
    man_before = replica_mod.load(replica)
    o_before = spark.read.parquet(replica_mod.table_dir(replica, "orders")).count()

    with pytest.raises(Exception):
        cli.main([
            "syncdb", "--replica", replica, "--token", "tok-x",
            "--table", "orders", "--changes", ch, "--key", "o_orderkey",
            "--table", "customer",
            "--changes", str(tmp_path / "missing.jsonl"),
            "--key", "c_custkey",
        ])

    # The manifest initdb committed is untouched; both tables read
    # their originals.
    assert replica_mod.load(replica) == man_before
    assert spark.read.parquet(
        replica_mod.table_dir(replica, "orders")).count() == o_before


def test_cli_schema_compile_and_migrate(tmp_path, capsys):
    import json

    from canvas_data_2_aws_spark.cli import main

    v1 = {
        "tableName": "courses",
        "schemaVersion": 1,
        "schema": {
            "type": "object",
            "properties": {"id": {"type": "integer"}},
            "required": ["id"],
        },
    }
    v2 = json.loads(json.dumps(v1))
    v2["schemaVersion"] = 2
    v2["schema"]["properties"]["name"] = {"type": "string"}
    p1, p2 = tmp_path / "v1.json", tmp_path / "v2.json"
    p1.write_text(json.dumps(v1))
    p2.write_text(json.dumps(v2))
    assert main(["schema", "--doc", str(p2), "--migrate-from", str(p1)]) == 0
    out = capsys.readouterr().out
    assert "+1 column(s) ['name']" in out
    assert "id BIGINT NOT NULL, name STRING" in out


def _sql_job_ids(spark) -> set[int]:
    """Ids of the jobs that ran inside a SQL execution (a query plan);
    parquet footer schema inference runs outside any."""
    executions = spark._jsparkSession.sharedState().statusStore().executionsList()
    ids: set[int] = set()
    for i in range(executions.size()):
        jobs = executions.apply(i).jobs().keys().iterator()
        while jobs.hasNext():
            ids.add(int(jobs.next()))
    return ids


def test_syncdb_one_pass_per_table(spark, sf_dir, tmp_path, capsys):
    """A one-table syncdb runs one base read, one decode+compaction and
    one write: no parquet schema-inference job and no re-read of the
    committed table to count it. The printed row count comes from the
    write and equals the committed table's row count."""
    import re

    replica = str(tmp_path / "guard_replica")
    assert cli.main(
        ["initdb", "--table", "orders", "--source-dir", sf_dir, "--replica", replica]
    ) == 0
    orders = load_table(spark, sf_dir, "orders")
    changes = str(tmp_path / "guard_changes")
    encode_envelope(derive_changeset(orders), key_cols=["o_orderkey"]).coalesce(
        1
    ).write.text(changes)
    capsys.readouterr()

    sc = spark.sparkContext
    group = "test_syncdb_one_pass_per_table"
    sc.setJobGroup(group, "one-table syncdb")
    try:
        rc = cli.main(["syncdb", "--table", "orders", "--changes", changes,
                       "--key", "o_orderkey", "--replica", replica])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rc == 0
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = set(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs and jobs <= _sql_job_ids(spark), "a job ran outside a query plan"
    # the changeset's broadcast (which fills the compaction's checkpoint)
    # and the write: a changeset under one scan split does not shuffle
    assert len(jobs) <= 2, sorted(jobs)

    (printed,) = re.findall(r"syncdb: orders now (\d+) rows", capsys.readouterr().out)
    committed = spark.read.parquet(replica_mod.table_dir(replica, "orders")).count()
    assert int(printed) == committed


def _sync_sized(spark, sf, tmp_path, name):
    """initdb orders + customer from ``sf``, then one two-table syncdb.
    Returns the physical plans of the sync's compaction windows, the
    part files each committed table has, and the committed tables."""
    import glob

    replica = str(tmp_path / name)
    for t in ("orders", "customer"):
        assert cli.main(["initdb", "--table", t, "--source-dir", sf,
                         "--replica", replica]) == 0
    orders, customer = load_table(spark, sf, "orders"), load_table(spark, sf, "customer")
    for t, key, changes in (
        ("orders", "o_orderkey", derive_changeset(orders)),
        ("customer", "c_custkey", customer.where(F.col("c_custkey") % 3 == 0)
         .withColumn("c_acctbal", F.col("c_acctbal") + 1.0)
         .withColumn("action", F.lit("U"))),
    ):
        encode_envelope(changes, key_cols=[key]).coalesce(1).write.text(
            str(tmp_path / f"{name}_{t}")
        )
    store = spark._jsparkSession.sharedState().statusStore()

    def executions():
        ex = store.executionsList()
        return [ex.apply(i) for i in range(ex.size())]

    seen = max((e.executionId() for e in executions()), default=-1)
    assert cli.main([
        "syncdb", "--replica", replica,
        "--table", "orders", "--changes", str(tmp_path / f"{name}_orders"),
        "--key", "o_orderkey",
        "--table", "customer", "--changes", str(tmp_path / f"{name}_customer"),
        "--key", "c_custkey",
    ]) == 0
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    plans = [e.physicalPlanDescription() for e in executions() if e.executionId() > seen]
    windows = [p for p in plans if "Window" in p]
    dirs = {t: replica_mod.table_dir(replica, t) for t in ("orders", "customer")}
    files = {t: len(glob.glob(f"{d}/part-*")) for t, d in dirs.items()}
    return windows, files, {t: spark.read.parquet(d) for t, d in dirs.items()}


def test_partitions_for_follows_the_scan_split(spark):
    """``session.partitions_for`` sizes a frame as Spark's file scan
    splits its bytes: one partition under the 4 MiB open cost, about
    one per core in between, one per ``maxPartitionBytes`` above
    ``cores × maxPartitionBytes``. ``spark.range`` is sized at 8 bytes
    a row, and no job runs."""
    from canvas_data_2_aws_spark.session import partitions_for

    cores = spark.sparkContext.defaultParallelism
    split = int(spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes())
    assert partitions_for(spark.range(100_000)) == 1  # 0.8 MB
    mid = 10 * cores * 2**20 // 8  # 10 MiB a core
    assert partitions_for(spark.range(mid)) == cores
    big = 2 * cores * split // 8
    assert partitions_for(spark.range(big)) == 2 * cores
    assert partitions_for(spark.range(mid), 2**20) == 10 * cores


def test_syncdb_sizes_work_to_bytes(spark, sf_dir, tmp_path):
    """Both sides of the one sizing rule (``session.partitions_for``).
    A changeset and a table under one scan split compact without an
    Exchange and commit one part file each; with
    ``spark.sql.files.maxPartitionBytes`` at a few KB the same sync
    hash-shuffles each changeset into its window, writes several files
    per table, and commits the same rows."""
    import os

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    windows, files, small = _sync_sized(spark, sf, tmp_path, "one_split")
    assert len(windows) == 2, windows
    assert all("Exchange" not in p for p in windows), windows
    assert files == {"orders": 1, "customer": 1}

    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "8k")
    try:
        windows, files, split = _sync_sized(spark, sf, tmp_path, "many_splits")
    finally:
        spark.conf.set(key, old)
    assert len(windows) == 2, windows
    assert all("hashpartitioning" in p for p in windows), windows
    assert all(n > 1 for n in files.values()), files
    for t in ("orders", "customer"):
        assert small[t].count() == split[t].count()
        assert small[t].exceptAll(split[t]).count() == 0


def test_syncdb_ties_resolve_in_file_order(spark, sf_dir, tmp_path):
    """Two changes to one key with the same meta.ts in different part
    files: the later part wins, even though it is the larger file and
    Spark packs larger splits first."""
    import json

    replica = str(tmp_path / "tie_replica")
    assert cli.main(
        ["initdb", "--table", "customer", "--source-dir", sf_dir,
         "--replica", replica]
    ) == 0
    rows = [r.asDict() for r in spark.read.parquet(replica_mod.table_dir(replica, "customer"))
            .orderBy("c_custkey").collect()]
    key = rows[0]["c_custkey"]

    def upsert(row, name):
        value = {c: v for c, v in row.items() if c != "c_custkey"}
        value["c_name"] = name
        return json.dumps({"key": {"c_custkey": row["c_custkey"]}, "value": value,
                           "meta": {"action": "U", "ts": 5}})

    changes = tmp_path / "tie_changes"
    changes.mkdir()
    (changes / "part-00000.jsonl").write_text(upsert(rows[0], "first") + "\n")
    # part-00001 is the larger file: filler updates to other keys.
    (changes / "part-00001.jsonl").write_text(
        "\n".join([upsert(r, r["c_name"]) for r in rows[1:]]
                  + [upsert(rows[0], "second")]) + "\n"
    )
    assert cli.main(["syncdb", "--table", "customer", "--changes", str(changes),
                     "--key", "c_custkey", "--replica", replica]) == 0
    merged = spark.read.parquet(replica_mod.table_dir(replica, "customer"))
    (winner,) = merged.where(F.col("c_custkey") == key).collect()
    assert winner.c_name == "second"
    assert merged.count() == len(rows)


def test_syncdb_reads_changes_in_part_subdirectories(spark, sf_dir, tmp_path):
    """A changeset directory with one subdirectory per part, the layout
    ``encode_envelope`` + ``.write.text(f"{out}/part{i}")`` lays down,
    is read in full: the delete in each part is applied."""
    replica = str(tmp_path / "parts_replica")
    assert cli.main(["initdb", "--table", "orders", "--source-dir", sf_dir,
                     "--replica", replica]) == 0
    before = spark.read.parquet(replica_mod.table_dir(replica, "orders")).count()
    changes = tmp_path / "ch"
    for i, key in enumerate([1, 2]):
        (changes / f"part{i}").mkdir(parents=True)
        _delete_changeset(changes / f"part{i}", "part-00000.txt", "o_orderkey", [key])
    assert cli.main(["syncdb", "--table", "orders", "--changes", str(changes),
                     "--key", "o_orderkey", "--replica", replica]) == 0
    after = spark.read.parquet(replica_mod.table_dir(replica, "orders"))
    assert after.where(F.col("o_orderkey").isin(1, 2)).count() == 0
    assert after.count() == before - 2


def _refused_sync_leaves_manifest(sf_dir, tmp_path, bad_line):
    """Sync a changeset holding one good delete and ``bad_line``; the
    sync must exit non-zero and leave the manifest byte-identical."""
    import json
    import os

    replica = str(tmp_path / "bad_replica")
    for t in ("orders", "customer"):
        assert cli.main(
            ["initdb", "--table", t, "--source-dir", sf_dir, "--replica", replica]
        ) == 0
    good = _delete_changeset(tmp_path, "good.jsonl", "c_custkey", [1])
    assert cli.main(["syncdb", "--table", "customer", "--changes", good,
                     "--key", "c_custkey", "--replica", replica,
                     "--token", "tok-1"]) == 0
    manifest = os.path.join(replica, replica_mod.MANIFEST)
    with open(manifest, "rb") as fh:
        before = fh.read()

    changes = tmp_path / "bad.jsonl"
    delete = json.dumps({"key": {"o_orderkey": 1}, "meta": {"action": "D", "ts": 1}})
    changes.write_text(delete + "\n" + bad_line + "\n")
    rc = cli.main([
        "syncdb", "--replica", replica, "--token", "tok-2",
        "--table", "customer", "--changes", good, "--key", "c_custkey",
        "--table", "orders", "--changes", str(changes), "--key", "o_orderkey",
    ])
    assert rc != 0
    with open(manifest, "rb") as fh:
        assert fh.read() == before


def test_syncdb_refuses_truncated_record(spark, sf_dir, tmp_path, capsys):
    _refused_sync_leaves_manifest(
        sf_dir, tmp_path, '{"key": {"o_orderkey": 2}, "meta": {"action": "D", "t'
    )
    assert "refused 1 malformed" in capsys.readouterr().err


def test_syncdb_refuses_unknown_action(spark, sf_dir, tmp_path, capsys):
    import json

    _refused_sync_leaves_manifest(
        sf_dir, tmp_path,
        json.dumps({"key": {"o_orderkey": 2}, "meta": {"action": "X", "ts": 1}}),
    )
    assert "refused 1 malformed" in capsys.readouterr().err
