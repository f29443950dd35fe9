"""The four benchmark workloads. Each one drives the program only
through its public surface — ``cli.main``, ``session``, ``registry``,
``sources.envelope``, ``operators.merge``, ``replica`` and
``streaming.merge_sink`` — on inputs written by :mod:`gen`.

A workload is a closed loop with one client: the next op starts when
the previous one returns. Every run does a fixed amount of work, set by
the class constants below, so two commits always measure the same mix.
``setup`` runs once per set-up repetition on a fresh session; ``warm``
runs the warm-up ops on the measured session; ``measure`` runs the
measured ops (once per block); ``verify`` runs the end-of-run gates.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import traceback

from harness import (
    StageCounters,
    count_files,
    dir_bytes,
    oracle_expectations,
    pandas_rows,
    result_digest,
    tree_cpu_s,
)

import gen


class Ctx:
    """Per-run state shared by a workload and the runner."""

    def __init__(self, seed: int, work: str, tracer) -> None:
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.counters: StageCounters | None = None
        self.spark_totals: dict[str, float] = {}
        self.traced_ops = 0

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)

    def cli(self, argv: list[str]) -> int:
        """``cli.main`` with its report lines kept off stdout (the
        result must be stdout's last line); any non-zero return or
        exception is a failed op."""
        from canvas_data_2_aws_spark import cli

        try:
            with contextlib.redirect_stdout(sys.stderr):
                rc = cli.main(argv)
        except Exception:
            traceback.print_exc()
            rc = -1
        self.record(rc == 0, f"cli {argv[0]} rc={rc}")
        return rc

    @contextlib.contextmanager
    def op_span(self, name: str, is_op: bool = True):
        """Span around one op (or maintenance step). The engine counters
        an op caused are summed into ``spark_totals``; a maintenance
        step's are taken and dropped, so the totals stay per-op."""
        with self.tracer.span(name):
            yield
        if self.tracer.enabled and self.counters is not None:
            delta = self.counters.take()
            if is_op:
                self.traced_ops += 1
                for k, v in delta.items():
                    self.spark_totals[k] = self.spark_totals.get(k, 0.0) + v

    def start_session(self) -> None:
        from canvas_data_2_aws_spark import session

        if self.spark is not None:
            self.spark.stop()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(app="perfbench")
        if self.tracer.enabled:
            self.counters = StageCounters(self.spark)


class Block:
    """One measured stretch: op latencies and CPU seconds, wall time and
    CPU seconds of the whole stretch, records moved."""

    def __init__(self) -> None:
        self.ops: list[float] = []
        self.cpu: list[float] = []
        self.wall = 0.0
        self.cpu_total = 0.0
        self.records = 0


# --- sync: the replication loop through the CLI -------------------------------


class Sync:
    """initdb ``orders`` + ``customer``, then periods of ten syncdb
    cycles (nine ~1 % cycles, then a ~10 % burst) that commit both
    tables and a token in one manifest swap, with ``optimize orders``
    after each burst."""

    PERIOD = [0.01] * 9 + [0.10]
    PERIODS = 1        # measured periods per block
    # ~1 % cycles on the measured session, untimed: with fewer, the JIT
    # is still compiling through the first measured cycles.
    WARM_CYCLES = 9
    TABLES = ("orders", "customer")

    def __init__(self, ctx: Ctx, blocks: int) -> None:
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")
        self.changes = os.path.join(ctx.work, "changes")
        self.schedule = [0.01] * self.WARM_CYCLES + self.PERIOD * self.PERIODS * blocks
        self.cycle = 0  # next cycle index to apply
        self.replica = None

    def generate(self) -> None:
        gen.write_tables(self.src, self.ctx.seed, self.TABLES)
        self.meta = gen.write_sync_inputs(self.src, self.changes, self.ctx.seed,
                                          self.schedule)

    def setup(self, rep: int) -> None:
        ctx = self.ctx
        ctx.start_session()
        if self.replica:
            shutil.rmtree(self.replica)
        self.replica = os.path.join(ctx.work, f"replica{rep}")
        for t in self.TABLES:
            with ctx.tracer.span("cli.initdb"):
                ctx.cli(["initdb", "--table", t, "--source-dir", self.src,
                         "--replica", self.replica])

    def warm(self) -> None:
        for _ in range(self.WARM_CYCLES):
            self._cycle_cli()

    def _argv(self, i: int) -> list[str]:
        argv = ["syncdb"]
        for t, key in gen.SYNC_TABLES.items():
            argv += ["--table", t, "--changes",
                     os.path.join(self.changes, f"cycle{i}", t), "--key", key]
        return argv + ["--replica", self.replica, "--token", f"cycle{i}"]

    def _cycle_cli(self) -> None:
        self.ctx.cli(self._argv(self.cycle))
        self.cycle += 1

    def _cycle_traced(self) -> None:
        """The steps ``cli.cmd_syncdb`` chains, one sibling span per
        layer. Each stage's output is cached and counted inside its own
        span, so the next stage starts from it: decode, compact and
        apply+write do not recompute one another. The row and byte
        counts are read after the ``cli.syncdb`` span closes."""
        from canvas_data_2_aws_spark import replica
        from canvas_data_2_aws_spark.operators.merge import (
            apply_changeset,
            compact_changeset,
        )
        from canvas_data_2_aws_spark.sources.envelope import read_changeset_jsonl

        ctx, tr, spark, root = self.ctx, self.ctx.tracer, self.ctx.spark, self.replica
        i = self.cycle
        order = ["_change_ts", "_change_seq"]
        staged = []
        ok = True
        try:
            with tr.span("cli.syncdb"):
                with tr.span("replica.vacuum"):
                    reclaimed = len(replica.vacuum(root))
                man = replica.load(root)
                new_ver = man["version"] + 1
                for t, key in gen.SYNC_TABLES.items():
                    path = os.path.join(self.changes, f"cycle{i}", t)
                    base = spark.read.parquet(replica.table_dir(root, t))
                    with tr.span("envelope.decode"):
                        changes = read_changeset_jsonl(
                            spark, path, table=t, key_cols=[key],
                            ts_col="_change_ts", seq_col="_change_seq",
                        ).persist()
                        n_rec = changes.count()
                    with tr.span("merge.compact"):
                        compacted = compact_changeset(changes, [key], order).persist()
                        n_cmp = compacted.count()
                    rel = f"{t}__v{new_ver}"
                    with tr.span("merge.apply"):
                        apply_changeset(base, compacted, keys=[key]) \
                            .write.mode("overwrite").parquet(os.path.join(root, rel))
                    changes.unpersist()
                    compacted.unpersist()
                    staged.append((rel, n_rec, n_cmp))
                    man["tables"][t] = {"dir": rel}
                man["version"] = new_ver
                man["token"] = f"cycle{i}"
                with tr.span("replica.commit"):
                    replica.commit(root, man)
                with tr.span("replica.vacuum"):
                    reclaimed += len(replica.vacuum(root))
        except Exception:
            traceback.print_exc()
            ok = False
        for rel, n_rec, n_cmp in staged:
            tr.add("envelope.records", n_rec)
            tr.add("merge.compacted", n_cmp)
            tr.add("replica.bytes_written", dir_bytes(os.path.join(root, rel)))
        if ok:
            tr.add("envelope.ops", 1)
            tr.add("replica.commits", 1)
            tr.add("replica.dirs_reclaimed", reclaimed)
        ctx.record(ok, f"traced cycle {i}")
        self.cycle += 1

    def measure(self, traced: bool) -> Block:
        ctx, b = self.ctx, Block()
        cpu_start = tree_cpu_s()
        t_start = time.perf_counter()
        for _ in range(self.PERIODS):
            for _ in self.PERIOD:
                i = self.cycle
                c0 = tree_cpu_s()
                t0 = time.perf_counter()
                with ctx.op_span("op.sync_cycle"):
                    (self._cycle_traced if traced else self._cycle_cli)()
                b.ops.append(time.perf_counter() - t0)
                b.cpu.append(tree_cpu_s() - c0)
                b.records += self.meta["records"][i]
            with ctx.op_span("cli.optimize", is_op=False):
                ctx.cli(["optimize", "--table", "orders", "--replica", self.replica,
                         "--key", "o_orderkey"])
        b.wall = time.perf_counter() - t_start
        b.cpu_total = tree_cpu_s() - cpu_start
        return b

    def verify(self) -> dict:
        import pyarrow.parquet as pq

        from canvas_data_2_aws_spark import replica

        ctx = self.ctx
        ctx.record(self.cycle == len(self.schedule),
                   f"sync applied {self.cycle} of {len(self.schedule)} cycles")
        expected = os.path.join(self.changes, "expected")
        for t, key in gen.SYNC_TABLES.items():
            with ctx.tracer.span("cli.validate"):
                ctx.cli(["validate", "--table", t, "--source-dir", expected,
                         "--replica", self.replica, "--key", key])
        rows = sum(pq.read_metadata(os.path.join(expected, f"{t}.parquet")).num_rows
                   for t in self.TABLES)
        live = [replica.table_dir(self.replica, t) for t in self.TABLES]
        return {
            "stored_bytes_per_row": sum(dir_bytes(d) for d in live) / rows,
            "files_live": sum(count_files(d) for d in live),
        }


# --- stream_sync: the merge layer as a micro-batch stream ----------------------


class StreamSync:
    """Landed JSONL parts → ``readStream.text`` (one file per trigger) →
    ``decode_envelope`` → ``StreamingIVMSink`` on ``orders`` with an
    ``(o_orderstatus → n, total)`` view, run AvailableNow a round of
    files at a time, vacuum after each round."""

    BATCHES = 10       # measured micro-batches per block, in one round
    PER_BATCH = 1000   # change records per micro-batch
    # One untimed round on the measured session: the first batches of a
    # round start the query, and the JIT warms over the rest.
    WARM_BATCHES = 12

    def __init__(self, ctx: Ctx, blocks: int) -> None:
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")
        self.inputs = os.path.join(ctx.work, "stream_in")
        self.total = self.WARM_BATCHES + self.BATCHES * blocks
        self.batches = 0  # batches landed so far
        self.root = None

    def generate(self) -> None:
        gen.write_tables(self.src, self.ctx.seed, ["orders"])
        os.makedirs(self.inputs, exist_ok=True)
        self.meta = gen.write_stream_inputs(
            self.src, self.inputs, self.ctx.seed, self.total, self.PER_BATCH,
        )

    def setup(self, rep: int) -> None:
        from canvas_data_2_aws_spark import session
        from canvas_data_2_aws_spark.streaming.merge_sink import StreamingIVMSink

        ctx = self.ctx
        ctx.start_session()
        if self.root:
            shutil.rmtree(self.root)
        self.root = os.path.join(ctx.work, f"stream{rep}")
        self.landing = os.path.join(self.root, "landing")
        self.checkpoint = os.path.join(self.root, "checkpoint")
        os.makedirs(self.landing)
        self.sink = StreamingIVMSink(
            ctx.spark, os.path.join(self.root, "orders"), keys=["o_orderkey"],
            compact_by=["_change_ts"], view_group="o_orderstatus",
            view_sum="o_totalprice",
        )
        os.makedirs(self.sink.table_dir)
        with ctx.tracer.span("merge_sink.bootstrap"):
            self.sink.bootstrap(session.load_table(ctx.spark, self.src, "orders"))

    def warm(self) -> None:
        self._round(Block(), self.WARM_BATCHES)

    def _round(self, b: Block, n: int, traced: bool = False) -> None:
        """Land the next ``n`` files and drain them with AvailableNow.
        Traced, each batch is cached and counted inside an
        ``envelope.decode`` span first, so ``apply_batch`` starts from
        decoded rows. A batch's CPU is what the process tree spent from
        the end of the previous batch's handler to the end of its own."""
        from canvas_data_2_aws_spark.sources.envelope import decode_envelope

        ctx, tr, sink = self.ctx, self.ctx.tracer, self.sink
        first = self.batches
        for i in range(first, first + n):
            dst = os.path.join(self.landing, f"batch{i:05d}.jsonl")
            shutil.copyfile(os.path.join(self.inputs, f"batch{i:05d}.jsonl"), dst)
            # File sources pick files oldest-first: pin landing order.
            os.utime(dst, (1_600_000_000 + i, 1_600_000_000 + i))
        self.batches += n
        applied: dict[int, float] = {}
        cpu_marks = [tree_cpu_s()]

        def handler(df, batch_id):
            t0 = time.perf_counter()
            with ctx.op_span("op.stream_batch"):
                if traced:
                    with tr.span("envelope.decode"):
                        df = df.persist()
                        tr.add("envelope.records", df.count())
                        tr.add("envelope.ops", 1)
                with tr.span("merge_sink.apply_batch"):
                    sink.apply_batch(df, batch_id)
                if traced:
                    df.unpersist()
            applied[batch_id] = time.perf_counter() - t0
            cpu_marks.append(tree_cpu_s())

        raw = ctx.spark.readStream.option("maxFilesPerTrigger", 1).text(self.landing)
        changes = decode_envelope(raw, "orders", ["o_orderkey"], record_col="value",
                                  ts_col="_change_ts")
        ok = True
        try:
            q = (changes.writeStream.foreachBatch(handler)
                 .option("checkpointLocation", self.checkpoint)
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            progress = [p for p in q.recentProgress if p.get("numInputRows", 0) > 0]
            ok = q.exception() is None and len(applied) == n
        except Exception:
            traceback.print_exc()
            progress, ok = [], False
        b.cpu += [end - start for start, end in zip(cpu_marks, cpu_marks[1:])]
        for p in progress:
            dur = p["durationMs"]["triggerExecution"] / 1e3
            b.ops.append(dur)
            tr.add("stream.trigger_overhead_s", dur - applied.get(p["batchId"], 0.0))
            tr.add("stream.batches", 1)
        b.records += sum(self.meta["records"][first:first + n])
        ctx.record(ok, f"stream round from batch {first}")
        with tr.span("merge_sink.vacuum"):
            sink.vacuum()

    def measure(self, traced: bool) -> Block:
        b = Block()
        cpu_start = tree_cpu_s()
        t_start = time.perf_counter()
        self._round(b, self.BATCHES, traced=traced)
        b.wall = time.perf_counter() - t_start
        b.cpu_total = tree_cpu_s() - cpu_start
        return b

    def verify(self) -> dict:
        import pyarrow.parquet as pq
        from pyspark.sql import functions as F

        from canvas_data_2_aws_spark import replica

        ctx, sink = self.ctx, self.sink
        ctx.record(self.batches == self.total,
                   f"stream landed {self.batches} of {self.total} batches")
        expected = os.path.join(self.inputs, "expected")
        snap = os.path.join(sink.table_dir, f"v{sink.current_version()}")
        # validate resolves tables through a manifest; point one at the
        # sink's current snapshot directory.
        vroot = os.path.join(self.root, "validate")
        replica.commit(vroot, {"version": 1, "token": None,
                               "tables": {"orders": {"dir": snap}}})
        with ctx.tracer.span("cli.validate"):
            ctx.cli(["validate", "--table", "orders", "--source-dir", expected,
                     "--replica", vroot, "--key", "o_orderkey"])
        view = sorted(tuple(r) for r in sink.current_view().collect())
        fresh = sorted(tuple(r) for r in sink.current_snapshot().groupBy("o_orderstatus").agg(
            F.count("*").alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(28,6)")).alias("total"),
        ).collect())
        ctx.record(view == fresh, "stream view != fresh recompute")
        rows = pq.read_metadata(os.path.join(expected, "orders.parquet")).num_rows
        return {"stored_bytes_per_row": dir_bytes(snap) / rows,
                "files_live": count_files(snap)}


# --- replica_sql / curation: graded query mixes --------------------------------


class QueryMix:
    """Loops over a fixed query mix, draining each result with
    ``toPandas()``; every result is checked against the DuckDB oracle's
    row count and order-insensitive digest."""

    NAMES: tuple[str, ...] = ()
    TABLES: tuple[str, ...] = ()
    MEMOS: tuple[tuple[str, str, str], ...] = ()  # (kind, module, builder)
    PASSES = 2  # measured passes over the mix per block

    def __init__(self, ctx: Ctx, blocks: int) -> None:
        self.ctx = ctx
        self.src = os.path.join(ctx.work, "src")

    def generate(self) -> None:
        import threading

        from canvas_data_2_aws_spark import registry

        gen.write_tables(self.src, self.ctx.seed, self.TABLES)
        registry.load_all()
        missing = [n for n in self.NAMES if n not in registry.ORACLES]
        if missing:
            raise KeyError(f"mix queries without an oracle: {missing}")
        # The DuckDB oracle runs beside the first (cold-JVM) set-up
        # repetition, which is always the slowest of the three and so
        # never the reported median; it must finish before the next.
        self.expected: dict = {}
        self.results: list[tuple[str, str, tuple]] = []  # (label, query, digest)
        self._oracle = threading.Thread(target=self._compute_oracle)
        self._oracle.start()

    def _compute_oracle(self) -> None:
        t0 = time.perf_counter()
        try:
            spill = os.path.join(self.ctx.work, "duckdb_spill")
            self.expected = oracle_expectations(self.src, self.NAMES, self.TABLES, spill)
        except Exception:
            traceback.print_exc()
        self.oracle_s = time.perf_counter() - t0

    def setup(self, rep: int) -> None:
        import importlib

        if rep:
            self._oracle.join()
        ctx = self.ctx
        ctx.start_session()
        for kind, module, builder in self.MEMOS:
            fn = getattr(importlib.import_module(module), builder)
            with ctx.tracer.span(f"memo.{kind}_build"):
                fn(ctx.spark, self.src)

    def warm(self) -> None:
        self._pass(Block(), "warm")

    def _pass(self, b: Block, label: str) -> None:
        from canvas_data_2_aws_spark import registry

        ctx = self.ctx
        for name in self.NAMES:
            c0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with ctx.op_span(f"query.{name}"):
                    sdf = registry.QUERIES[name](ctx.spark, self.src)
                    pdf = sdf.toPandas()
            except Exception:
                traceback.print_exc()
                ctx.record(False, f"{label} {name} raised")
                continue
            b.ops.append(time.perf_counter() - t0)
            b.cpu.append(tree_cpu_s() - c0)
            b.records += len(pdf)
            t_check = time.perf_counter()
            self.results.append(
                (label, name, result_digest(sdf.columns, pandas_rows(pdf, sdf.schema)))
            )
            b.wall -= time.perf_counter() - t_check  # checking is not the system's time

    def measure(self, traced: bool) -> Block:
        b = Block()
        if traced:
            self._load_tables()
        t_start = time.perf_counter()
        for _ in range(self.PASSES):
            self._pass(b, "measure")
        b.wall += time.perf_counter() - t_start
        return b

    def _load_tables(self) -> None:
        from canvas_data_2_aws_spark import session

        for t in self.TABLES:
            with self.ctx.tracer.span("session.load_table"):
                session.load_table(self.ctx.spark, self.src, t) \
                    .write.format("noop").mode("overwrite").save()

    def verify(self) -> dict:
        self._oracle.join()
        for label, name, got in self.results:
            want = self.expected.get(name)
            self.ctx.record(got == want, f"{label} {name}: got {got}, oracle {want}")
        return {}


class ReplicaSql(QueryMix):
    NAMES = (
        "agg_group_sum", "join_inner_agg", "join_five_way",
        "window_topk_per_group", "window_rank_family", "join_asof",
        "analytics_retention", "analytics_funnel", "join_scd2_pointintime",
    )
    TABLES = ("region", "nation", "supplier", "customer", "orders",
              "lineitem", "events")


class Curation(QueryMix):
    NAMES = (
        "dedup_minhash_banded", "dedup_ngram_jaccard", "text_tfidf", "text_bm25",
        "knn_cosine_exact", "ann_hyperplane_lsh", "multimodal_phash_dedup",
        "pipeline_corpus_curation",
    )
    TABLES = ("documents", "embeddings")
    _Q = "canvas_data_2_aws_spark.queries."
    MEMOS = (
        ("simhash_sh", "canvas_data_2_aws_spark.operators.text", "simhash_sh_cached"),
        ("minhash_shingles", _Q + "dedup", "minhash_shingles_cached"),
        ("minhash_sig", _Q + "dedup", "minhash_sig_cached"),
        ("bm25_postings", _Q + "text", "bm25_postings_cached"),
        ("phash_frame", _Q + "multimodal", "phash_frame"),
    )


#: Workloads that write: they report changes_per_cpu_s, changes_per_s and
#: stored_bytes_per_row.
WRITES = ("sync", "stream_sync")

WORKLOADS = {
    "sync": Sync,
    "stream_sync": StreamSync,
    "replica_sql": ReplicaSql,
    "curation": Curation,
}
