"""Command-line surface mirroring the reference pipeline's entry
points (SURVEY §3.1): ``initdb`` bootstraps a replica table from a
snapshot, ``syncdb`` applies an incremental JSONL changeset, ``query``
runs any graded query. A user of the reference drives the same three
verbs; here they run on Spark.

    python -m canvas_data_2_aws_spark initdb  --table orders \\
        --source-dir /root/testdata/sf0.001 --replica /tmp/replica
    python -m canvas_data_2_aws_spark syncdb  --table orders \\
        --changes /tmp/changes.jsonl --key o_orderkey --replica /tmp/replica
    python -m canvas_data_2_aws_spark query   --name agg_group_sum \\
        --sf-dir /root/testdata/sf0.001
"""

from __future__ import annotations

import argparse
import sys

from . import registry, replica, session
from .sources.envelope import read_changeset_jsonl


def cmd_initdb(args) -> int:
    spark = session.get_spark(app="cda2-initdb")
    df = session.sized(session.load_table(spark, args.source_dir, args.table))
    rows = replica.transact(args.replica, {args.table: (f"{args.table}__v", df)})
    print(f"initdb: {args.table} bootstrapped with {rows[args.table]} rows")
    return 0


def cmd_syncdb(args) -> int:
    """Apply one changeset per table, then advance ALL tables (and the
    high-water token) in ONE replica transaction.

    Mirrors the reference's all-tables-or-nothing Postgres transaction
    around per-table token updates `[public: DAP]`. ``replica.sync``,
    the merge-and-commit step the streaming sinks run too, stages every
    merged table to a fresh ``{table}__v{N}`` directory and swaps the
    manifest only after all of them are written, so a crash before the
    swap leaves the prior manifest (old data, old token) fully intact.

    Each table is one pass: the base is read with its recorded schema,
    the changeset is decoded and compacted once to the latest change
    per key by ``meta.ts``, file order breaking ties (M3), and the
    merged rows are written once. The malformed-record count and the
    printed row count are observed on that write, so no other Spark job
    runs. A changeset with malformed records is refused: exit 1 and the
    manifest is left untouched.
    """
    spark = session.get_spark(app="cda2-syncdb")
    tables, changes_list, keys = args.table, args.changes, args.key
    if not (len(tables) == len(changes_list) == len(keys) == len(set(tables))):
        print(
            "syncdb: --table/--changes/--key must be repeated together,"
            " once per table",
            file=sys.stderr,
        )
        return 2
    changesets = {
        table: (
            f"{table}__v",
            read_changeset_jsonl(
                spark, path, table=table, key_cols=[key],
                ts_col="_change_ts", seq_col="_change_seq",
            ),
            [key],
            ["_change_ts", "_change_seq"],
        )
        for table, path, key in zip(tables, changes_list, keys)
    }
    try:
        rows = replica.sync(args.replica, changesets, token=args.token)
    except replica.Rejected as exc:
        print(f"syncdb: {exc}", file=sys.stderr)
        return 1
    for table, n in rows.items():
        print(f"syncdb: {table} now {n} rows after merge")
    return 0


def cmd_query(args) -> int:
    registry.load_all()
    if args.name not in registry.QUERIES:
        print(f"unknown query {args.name!r}; run `list` to see all", file=sys.stderr)
        return 2
    spark = session.get_spark(app=f"cda2-query-{args.name}")
    df = registry.QUERIES[args.name](spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.rows, truncate=False)
    return 0


def cmd_validate(args) -> int:
    """Post-sync replica audit: order-insensitive content checksum of
    the replica table vs a reference snapshot (the same md5-fold
    recipe as the graded ``validate_table_checksum``), plus row count
    and PK uniqueness. Exit 0 iff all three agree — the check a
    scheduler runs after every ``syncdb`` before advancing the token.
    """
    from pyspark.sql import functions as F

    from .functions.numeric import row_digest

    spark = session.get_spark(app="cda2-validate")
    replica_df = replica.read(spark, args.replica, args.table)
    reference = session.load_table(spark, args.source_dir, args.table)
    key = args.key

    def digest(df):
        return df.agg(
            F.sum(row_digest(df, sorted(df.columns))).alias("checksum"),
            F.count("*").alias("n"),
            F.countDistinct(key).alias("n_keys"),
        ).first()

    rep, ref = digest(replica_df), digest(reference)
    ok_checksum = rep.checksum == ref.checksum
    ok_rows = rep.n == ref.n
    ok_pk = rep.n == rep.n_keys
    print(
        f"validate {args.table}: rows {rep.n} vs {ref.n} "
        f"({'OK' if ok_rows else 'MISMATCH'}), "
        f"checksum {'OK' if ok_checksum else 'MISMATCH'}, "
        f"pk-unique {'OK' if ok_pk else 'VIOLATED'}"
    )
    return 0 if (ok_checksum and ok_rows and ok_pk) else 1


def cmd_optimize(args) -> int:
    """Replica maintenance: rewrite a table's small files into
    ~``--target-mb`` files range-clustered on the PK (the actionable
    form of the graded compaction planner + Z-order layout ops).
    Clustering on the key keeps footer min/max selective, so post-
    compaction scans skip files on PK predicates. The rewrite commits
    through the same replica transaction as ``syncdb``, so a crash
    mid-rewrite leaves the prior layout readable. The file count is
    ``session.partitions_for`` the table's bytes with ``--target-mb``
    as the divisor, and each range partition is written as one file.
    At 100 TB the same verb runs per partition off the manifest bins
    (`layout_compaction_bins`)."""
    import glob

    from pyspark.sql import functions as F

    spark = session.get_spark(app="cda2-optimize")
    root = args.replica
    files_before = glob.glob(f"{replica.table_dir(root, args.table)}/part-*")
    df = replica.read(spark, root, args.table)
    target = session.partitions_for(df, args.target_mb << 20)
    clustered = df.repartitionByRange(target, F.col(args.key)).sortWithinPartitions(
        args.key
    )
    rows = replica.transact(root, {args.table: (f"{args.table}__v", clustered)})
    files_after = glob.glob(f"{replica.table_dir(root, args.table)}/part-*")
    print(
        f"optimize: {args.table} rewrote {len(files_before)} files "
        f"into {len(files_after)} PK-clustered files, {rows[args.table]} rows"
    )
    return 0


def cmd_list(args) -> int:
    registry.load_all()
    for name in sorted(registry.QUERIES):
        kind = "oracle" if name in registry.ORACLES else "rows-only"
        print(f"{name:35s} {kind}")
    return 0


def cmd_schema(args) -> int:
    """Compile a server-declared JSON-Schema table document to the
    regenerated DDL (and optionally plan a version-bump migration) —
    the client-side half of the upstream get_table_schema flow."""
    import json as _json

    from .sources.schema_compiler import (
        compile_json_schema,
        ddl_for,
        migrate,
        schema_version,
    )

    with open(args.doc, encoding="utf-8") as fh:
        doc = _json.load(fh)
    if args.migrate_from:
        with open(args.migrate_from, encoding="utf-8") as fh:
            old = _json.load(fh)
        struct, added = migrate(old, doc)
        print(
            f"v{schema_version(old)} -> v{schema_version(doc)}: "
            f"+{len(added)} column(s) {added}"
        )
    else:
        struct = compile_json_schema(doc)
    print(f"-- {doc.get('tableName', '?')} v{schema_version(doc)}")
    print(ddl_for(doc))
    print(struct.simpleString())
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="canvas_data_2_aws_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    p_init = sub.add_parser("initdb", help="bootstrap a replica table (M2)")
    p_init.add_argument("--table", required=True)
    p_init.add_argument("--source-dir", required=True)
    p_init.add_argument("--replica", required=True)
    p_init.set_defaults(fn=cmd_initdb)

    p_sync = sub.add_parser("syncdb", help="apply a JSONL changeset (M1)")
    p_sync.add_argument(
        "--table", required=True, action="append",
        help="table name (repeat with --changes/--key for a multi-table"
             " all-or-nothing sync)",
    )
    p_sync.add_argument(
        "--changes", required=True, action="append",
        help="JSONL envelope file/dir (one per --table)",
    )
    p_sync.add_argument(
        "--key", required=True, action="append",
        help="primary-key column (one per --table)",
    )
    p_sync.add_argument("--replica", required=True)
    p_sync.add_argument(
        "--token", default=None,
        help="high-water token recorded atomically with the data commit",
    )
    p_sync.set_defaults(fn=cmd_syncdb)

    p_query = sub.add_parser("query", help="run a graded query")
    p_query.add_argument("--name", required=True)
    p_query.add_argument("--sf-dir", default=session.DEFAULT_SF_DIR)
    p_query.add_argument("--rows", type=int, default=20)
    p_query.add_argument(
        "--explain", action="store_true", help="print the formatted physical plan"
    )
    p_query.set_defaults(fn=cmd_query)

    p_val = sub.add_parser(
        "validate", help="audit a replica table against a snapshot"
    )
    p_val.add_argument("--table", required=True)
    p_val.add_argument("--source-dir", required=True)
    p_val.add_argument("--replica", required=True)
    p_val.add_argument("--key", required=True, help="primary-key column")
    p_val.set_defaults(fn=cmd_validate)

    p_opt = sub.add_parser(
        "optimize", help="compact a replica table into PK-clustered files"
    )
    p_opt.add_argument("--table", required=True)
    p_opt.add_argument("--replica", required=True)
    p_opt.add_argument("--key", required=True, help="clustering key column")
    p_opt.add_argument(
        "--target-mb", type=int, default=256,
        help="target file size: the table is rewritten as ceil(bytes / target)"
        " PK-range files",
    )
    p_opt.set_defaults(fn=cmd_optimize)

    p_list = sub.add_parser("list", help="list all graded queries")
    p_list.set_defaults(fn=cmd_list)

    p_schema = sub.add_parser(
        "schema", help="compile a JSON-Schema table doc to DDL/StructType"
    )
    p_schema.add_argument("--doc", required=True, help="JSON schema document")
    p_schema.add_argument(
        "--migrate-from", default=None,
        help="previous-version document: prints the version-bump plan",
    )
    p_schema.set_defaults(fn=cmd_schema)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
