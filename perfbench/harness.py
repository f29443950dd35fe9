"""Measurement plumbing shared by the workloads: spans, Spark status-store
counters, peak-RSS and CPU-time readers, percentile helpers and the
DuckDB-oracle result gate. Nothing here changes what the engine does;
every probe sits around calls into the program's public functions.
"""

from __future__ import annotations

import contextlib
import hashlib
import math
import os
import statistics
import time

# --- spans ------------------------------------------------------------------


class Tracer:
    """In-memory span recorder. Spans carry name, start, end, parent and
    run id; they are written out once, when the run ends. A disabled
    tracer records nothing and costs one attribute test per span."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "parent": parent, "run": self.run_id,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def add(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + value

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def mean_s(self, name: str) -> float:
        d = self.durations(name)
        return sum(d) / len(d) if d else 0.0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - c)
        return out

    def dump(self, path: str) -> None:
        import json

        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"run": self.run_id, "spans": self.spans,
                       "self_s": self.self_times(), "counts": self.counts}, fh)


# --- Spark engine counters ----------------------------------------------------

SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes", "output_bytes",
    "output_records",
)


class StageCounters:
    """Sums stage metrics from the live status store (which Spark keeps
    with ``spark.ui.enabled=false`` too) over the stages that finished
    since the previous :meth:`take` — the per-span engine counters."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.seen_stage = -1
        self.seen_job = -1
        self.take()

    def _drain(self) -> None:
        # The status store is fed by an async listener; wait for it so
        # the stages of the action that just returned are visible.
        self.jsc.listenerBus().waitUntilEmpty()

    def take(self) -> dict[str, float]:
        self._drain()
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        store = self.jsc.statusStore()
        # Both lists come newest-first, so stop at the first id seen.
        jobs = store.jobsList(self.jvm.java.util.ArrayList())
        newest = self.seen_job
        for i in range(jobs.size()):
            jid = jobs.apply(i).jobId()
            if jid <= self.seen_job:
                break
            newest = max(newest, jid)
            out["jobs"] += 1
        self.seen_job = newest
        stages = store.stageList(
            self.jvm.java.util.ArrayList(), False, False,
            self.sc._gateway.new_array(self.jvm.double, 0),
            self.jvm.java.util.ArrayList(),
        )
        newest = self.seen_stage
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self.seen_stage:
                break
            newest = max(newest, sid)
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            out["executor_run_s"] += s.executorRunTime() / 1e3
            out["executor_cpu_s"] += s.executorCpuTime() / 1e9
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["output_records"] += s.outputRecords()
        self.seen_stage = newest
        return out


# --- memory and CPU ---------------------------------------------------------


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process from /proc, in MB."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process and every live
    descendant (the JVM and any Python workers it forks), all threads,
    plus the CPU of children they have reaped. Time the host steals from
    this VM is not charged to a process, so unlike wall time this does
    not grow when other tenants load the host."""
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue  # exited during the scan
            stats[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """CPU seconds the host has taken from this VM's CPUs since boot."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def jvm_pid(spark) -> int | None:
    """PID of the JVM the PySpark gateway launched (spark-submit execs
    into java, so the launched process is the JVM itself)."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    return proc.pid if proc is not None else None


# --- statistics -------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> float:
    """The highest order statistic with at least ten samples beyond it;
    never below the median (so a run of fewer than 21 ops reports the
    upper median)."""
    s = sorted(xs)
    return float(s[max(len(s) - 11, len(s) // 2)])


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                total += os.path.getsize(os.path.join(dirpath, f))
    return total


def count_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files
        if not f.startswith((".", "_"))
    )


# --- result gate --------------------------------------------------------------


def _norm(v):
    """One null spelling across fetch paths: pandas turns NULL into NaN /
    NaT in numeric and timestamp columns, DuckDB returns None."""
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    try:
        import pandas as pd

        if v is pd.NaT:
            return None
    except ImportError:
        pass
    return v


_INT_TYPES = ("bigint", "int", "smallint", "tinyint")


def result_digest(cols, rows) -> tuple[int, str]:
    """(row count, order-insensitive sha256) of a result through the
    repository's own canonicalizer (tools/check_oracle.canon_rows)."""
    from tools.check_oracle import canon_rows

    canon = canon_rows(list(cols), rows)
    h = hashlib.sha256()
    for r in canon:
        h.update(repr(r).encode())
    return len(canon), h.hexdigest()


def pandas_rows(pdf, schema) -> list[tuple]:
    """Python-object rows from a ``toPandas()`` frame, undoing the pandas
    widening of nullable integer columns to float."""
    cols = []
    for f in schema.fields:
        vals = [_norm(v) for v in pdf[f.name].tolist()]
        if f.dataType.simpleString() in _INT_TYPES:
            vals = [None if v is None else int(v) for v in vals]
        cols.append(vals)
    return list(zip(*cols)) if cols else []


def oracle_expectations(sf_dir: str, names, tables, spill_dir: str) -> dict:
    """Expected (row count, digest) per query from the registry's DuckDB
    oracle SQL over the generated tables — never from Spark."""
    import duckdb

    from canvas_data_2_aws_spark import registry

    con = duckdb.connect()
    try:
        con.execute("SET memory_limit='4GB'")
        con.execute(f"SET temp_directory='{spill_dir}'")
        con.execute(f"SET threads={os.cpu_count() or 1}")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name in names:
            rel = con.sql(registry.ORACLES[name])
            cols = list(rel.columns)
            rows = [tuple(_norm(v) for v in r) for r in rel.fetchall()]
            out[name] = result_digest(cols, rows)
        return out
    finally:
        con.close()
