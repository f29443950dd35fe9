"""Unit tests for the CD2 JSONL envelope codec (sources/envelope.py)."""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import functions as F

from canvas_data_2_aws_spark.sources.envelope import (
    decode_envelope,
    encode_envelope,
    read_changeset_jsonl,
)


def _sample_changeset(spark, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").limit(50)
    return orders.withColumn(
        "action", F.when(F.col("o_orderkey") % 5 == 0, "D").otherwise("U")
    )


def test_roundtrip_preserves_types_and_values(spark, sf_dir):
    chg = _sample_changeset(spark, sf_dir)
    wire = encode_envelope(chg, key_cols=["o_orderkey"])
    decoded = decode_envelope(wire, table="orders", key_cols=["o_orderkey"])

    # schema: key cols + value cols (incl. timestamp) + action
    assert dict(decoded.dtypes)["o_orderdate"] == "timestamp"

    orig = {r.o_orderkey: r for r in chg.collect()}
    for r in decoded.collect():
        o = orig[r.o_orderkey]
        if r.action == "D":
            # tombstone: key survives, value block absent
            assert r.o_custkey is None and r.o_totalprice is None
        else:
            assert r.o_custkey == o.o_custkey
            assert r.o_totalprice == o.o_totalprice  # exact double round-trip
            assert r.o_orderdate == o.o_orderdate  # exact timestamp round-trip
            assert r.o_orderpriority == o.o_orderpriority


def test_read_changeset_jsonl_from_disk(spark, sf_dir):
    chg = _sample_changeset(spark, sf_dir)
    wire = encode_envelope(chg, key_cols=["o_orderkey"])
    path = tempfile.mkdtemp(prefix="cda2_env_")
    try:
        wire.coalesce(1).write.mode("overwrite").text(path)
        decoded = read_changeset_jsonl(
            spark, path, table="orders", key_cols=["o_orderkey"]
        )
        assert decoded.count() == chg.count()
        assert decoded.where("action = 'D'").count() == chg.where(
            "action = 'D'"
        ).count()
        # malformed line → from_json nulls, caught as a null key
        assert decoded.where("o_orderkey IS NULL").count() == 0
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_malformed_records_surface_as_null_keys(spark):
    """Corrupt JSONL lines parse to null structs (PERMISSIVE), which
    surface as null-key rows — countable/quarantinable, never silently
    dropped or crashing the sync."""
    lines = [
        '{"key":{"o_orderkey":1},"value":{"o_custkey":7},"meta":{"action":"U","ts":0}}',
        "this is not json at all",
        '{"key":{},"value":{},"meta":{"action":"U","ts":0}}',
    ]
    records = spark.createDataFrame([(l,) for l in lines], "record string")
    decoded = decode_envelope(records, table="orders", key_cols=["o_orderkey"])
    rows = decoded.collect()
    assert len(rows) == 3
    good = [r for r in rows if r.o_orderkey is not None]
    assert len(good) == 1 and good[0].o_custkey == 7
    assert sum(1 for r in rows if r.o_orderkey is None) == 2


def test_python_datasource_equals_from_json_codec(spark, sf_dir):
    """format('cd2_envelope') + decode_envelope must yield exactly the
    rows read_changeset_jsonl yields from the same JSONL files, on every
    column and for value-drift lines too (one codec types both), with
    one input partition per part-file."""
    import os
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from canvas_data_2_aws_spark.queries.merge import derive_changeset
    from canvas_data_2_aws_spark.session import load_table
    from canvas_data_2_aws_spark.sources.cd2_datasource import register
    from canvas_data_2_aws_spark.sources.envelope import (
        decode_envelope,
        encode_envelope,
        read_changeset_jsonl,
    )

    orders = load_table(spark, sf_dir, "orders")
    changeset = derive_changeset(orders).localCheckpoint(eager=False)
    wire = encode_envelope(changeset, key_cols=["o_orderkey"])
    drift = [
        '{"key": {"o_orderkey": -1}, "value": {"o_custkey": 3.7}, "meta": {"action": "U", "ts": 0}}',
        '{"key": {"o_orderkey": -2}, "value": {"o_custkey": "12"}, "meta": {"action": "U", "ts": 0}}',
        '{"key": {"o_orderkey": -3}, "value": {"o_totalprice": "2.5"}, "meta": {"action": "U", "ts": 0}}',
    ]
    out = tempfile.mkdtemp(prefix="cda2_pysrc_t_")
    try:
        for i in range(3):
            wire.where(F.crc32("record") % 3 == i).coalesce(1).write.mode(
                "overwrite"
            ).text(f"{out}/part{i}")
        os.mkdir(f"{out}/part3")
        with open(f"{out}/part3/drift.txt", "w", encoding="utf-8") as fh:
            fh.write("\n".join(drift) + "\n")
        register(spark)
        records = (
            spark.read.format("cd2_envelope").option("path", f"{out}/part*/*.txt").load()
        )
        assert records.schema.simpleString() == "struct<value:string>"
        assert records.rdd.getNumPartitions() == 4
        via_source = decode_envelope(
            records, table="orders", key_cols=["o_orderkey"], record_col="value"
        )
        got = sorted(tuple(r) for r in via_source.collect())
        want = sorted(
            tuple(r)
            for r in read_changeset_jsonl(
                spark, f"{out}/part*/*.txt", table="orders", key_cols=["o_orderkey"]
            ).collect()
        )
        assert got == want
        assert len(want) == changeset.count() + len(drift)
        assert via_source.columns == [*orders.columns, "action"]
        assert {r[0] for r in got} >= {-1, -2, -3}
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_streaming_python_source_resumes_from_checkpoint(spark, sf_dir):
    """Two trigger-once runs over one checkpoint must split the parts
    between them (offset persisted = since-token semantics) and land
    exactly the full changeset."""
    from canvas_data_2_aws_spark import registry

    registry.load_all()
    rows = registry.QUERIES["stream_python_source"](spark, sf_dir).collect()
    assert rows, "no actions landed"
    total = sum(r.n for r in rows)
    run1, run2 = rows[0].run1_rows, rows[0].run2_rows
    assert run1 > 0 and run2 > 0  # both runs consumed a part
    assert run1 + run2 == total

    from pyspark.sql import functions as F

    from canvas_data_2_aws_spark.queries.merge import derive_changeset
    from canvas_data_2_aws_spark.session import load_table

    expected = derive_changeset(load_table(spark, sf_dir, "orders")).count()
    assert total == expected


def test_python_datasource_malformed_line_refused_by_sink(spark, sf_dir, tmp_path):
    """The source never fails and never skips a line: a malformed line
    between good ones reaches the writer as a null key (no JSON) or a
    missing action (no meta block), and ``StreamingMergeSink.apply_batch``
    refuses the batch with the manifest left byte-identical, as
    ``syncdb`` does."""
    import os

    import pytest

    from canvas_data_2_aws_spark import replica
    from canvas_data_2_aws_spark.session import load_table
    from canvas_data_2_aws_spark.sources.cd2_datasource import register
    from canvas_data_2_aws_spark.streaming.merge_sink import StreamingMergeSink

    good = '{"key": {"o_orderkey": %d}, "value": {"o_custkey": 7, "o_orderstatus": "O", "o_totalprice": 1.5, "o_orderdate": "1995-01-01 00:00:00", "o_orderpriority": "1-URGENT"}, "meta": {"action": "U", "ts": 0}}'
    sink = StreamingMergeSink(
        spark, str(tmp_path / "replica"), keys=["o_orderkey"], compact_by=["o_orderkey"]
    )
    sink.bootstrap(load_table(spark, sf_dir, "orders").limit(10))
    manifest = os.path.join(sink.table_dir, replica.MANIFEST)
    with open(manifest, "rb") as fh:
        before = fh.read()
    register(spark)
    for i, bad in enumerate(["{not json at all", '{"key": {"o_orderkey": 3}, "value": {}}']):
        part = tmp_path / f"parts{i}"
        part.mkdir()
        (part / "p0.txt").write_text("\n".join([good % 1, bad, good % 2]) + "\n")
        records = spark.read.format("cd2_envelope").option("path", str(part)).load()
        assert [r.value for r in records.collect()] == [good % 1, bad, good % 2]
        changes = decode_envelope(
            records, table="orders", key_cols=["o_orderkey"], record_col="value"
        )
        with pytest.raises(replica.Rejected, match="refused 1 malformed"):
            sink.apply_batch(changes, i)
        with open(manifest, "rb") as fh:
            assert fh.read() == before
