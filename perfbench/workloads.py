"""The benchmark's workloads: what one op calls, and how it is checked.

An op is timed in two phases from outside the library: the calls into
its public functions (planning plus the eager driver probes they run),
and the one action the benchmark issues on the result.  The action
computes the op's fingerprint (see :mod:`oracle`), so it consumes the
whole result.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import functions as F

from . import inputs
from .oracle import Oracle, normalize

N_BUCKETS = 8


def _dur(col: str = "span"):
    span = F.col(col)
    return (span.getField("stop") - span.getField("start")).cast("decimal(38,0)")


def _fingerprint(df, group: str, key: str) -> tuple:
    """Per group: rows, non-null right keys, summed intersection ns."""
    rows = df.groupBy(group).agg(
        F.count(F.lit(1)), F.count(key), F.sum(_dur())
    ).collect()
    return normalize(rows)


def plan_strategy(df) -> str:
    """Which side of ``strategy='auto'`` a returned join frame took."""
    plan = df._jdf.queryExecution().sparkPlan().toString()
    if "__dfi_bin" in plan:
        return "binned"
    if "BroadcastNestedLoopJoin" in plan:
        return "broadcast"
    return "other"


class OpResult:
    """``auto_join`` / ``prebinned_join``: the join frame the op got back,
    whose plan a traced run inspects; ``written``: the table directories
    a sink op wrote (see :meth:`count_written`)."""

    def __init__(self, fingerprint, out_rows, auto_join=None, prebinned_join=None, written=None):
        self.fingerprint = fingerprint
        self.out_rows = out_rows
        self.auto_join = auto_join
        self.prebinned_join = prebinned_join
        self.written = written

    def count_written(self) -> None:
        """Files, bytes and parquet rows the sink wrote; run outside the
        op's timing.  The row count is the op's fingerprint."""
        self.written = _dir_stats(self.written)
        self.out_rows = self.written["rows"]
        self.fingerprint = ("rows", self.out_rows)


class WindowsJoin:
    """Reference pipeline: ``event_spans`` x ``quantile_windows(n)`` with
    one of the four ``interval_join`` flavours or a grouped join."""

    name = "windows_join"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.sf_dir = os.path.join(work, "sf")
        os.makedirs(self.sf_dir)
        self.events = inputs.write_events(seed, self.sf_dir)
        inputs.write_orders(seed, self.sf_dir)  # read by the catalog entries

    def schedule(self, n_ops: int):
        return inputs.windows_schedule(self.seed, n_ops)

    # two Latin-square rows: every flavour twice, ten (flavour, n) pairs
    block_len = 2 * len(inputs.WINDOW_FLAVOURS)

    def warm_op(self):
        return ("inner", inputs.WINDOW_COUNTS[0])

    def start(self, spark) -> None:
        self.spark = spark

    def run(self, dfi, op, span) -> OpResult:
        from dataframeintervals_jl_spark.sources import event_spans

        flavour, n = op
        with span("sources"):
            es = event_spans(self.spark, self.sf_dir)
        with span("quantile_windows"):
            win = dfi.quantile_windows(self.spark, n, es, label="w")
        if flavour == "groupby":
            with span("groupby_interval_join"):
                grouped = dfi.groupby_interval_join(es, win, ["w", "event_type"])
                res = grouped.agg(F.count(F.lit(1)), F.sum(_dur()))
            with span("execute"):
                fp = normalize(res.collect())
            return OpResult(fp, sum(r[2] for r in fp), auto_join=grouped.df)
        with span("interval_join"):
            j = dfi.interval_join(
                es,
                win,
                keepleft=flavour in ("keepleft", "full"),
                keepright=flavour in ("keepright", "full"),
            )
        with span("execute"):
            fp = _fingerprint(j, "w", "event_id")
        return OpResult(fp, sum(r[1] for r in fp), auto_join=j)

    def expected(self, oracle: Oracle, op):
        return oracle.windows_op(*op)

    def load_oracle(self, oracle: Oracle) -> None:
        oracle.load_events(self.events)


class BinnedRW:
    """Large x large span joins: the in-memory binned rewrite (inner and
    full outer, ``strategy='auto'``) beside the storage path — tables
    written pre-binned by ``write_binned_spans``, read back with
    ``read_bucketed`` and joined with ``interval_join_prebinned``."""

    name = "binned_rw"

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.a_path = inputs.write_span_table(seed, "a", os.path.join(work, "a.parquet"))
        self.b_path = inputs.write_span_table(seed, "b", os.path.join(work, "b.parquet"))
        self.base_bytes = os.path.getsize(self.a_path) + os.path.getsize(self.b_path)
        self.warehouse = os.path.join(work, "warehouse")

    def schedule(self, n_ops: int):
        return inputs.binned_schedule(self.seed, n_ops)

    # two write-and-join rounds at two different seed-chosen widths
    block_len = 2 * len(inputs.BINNED_BLOCK)

    def warm_op(self):
        return ("binned_inner", 0)

    def start(self, spark) -> None:
        import dataframeintervals_jl_spark as dfi

        self.spark = spark
        # a new session has a new (in-memory) catalog: drop the table
        # files an earlier session of this run left in the warehouse
        for table in ("pb_a", "pb_b"):
            shutil.rmtree(os.path.join(self.warehouse, table), ignore_errors=True)
        # the input frames are built once per session (reading a parquet
        # footer is a job of its own), like tables a user keeps around
        self.a, self.b = (
            spark.read.parquet(path).select(
                f"{side}_id",
                f"{side}_g",
                dfi.make_span(F.col("start"), F.col("stop")).alias("span"),
            )
            for path, side in ((self.a_path, "a"), (self.b_path, "b"))
        )

    def run(self, dfi, op, span) -> OpResult:
        from dataframeintervals_jl_spark.sources import sinks

        kind, width = op
        if kind == "prebinned_write":
            with span("sinks"):
                sinks.write_binned_spans(self.a, "pb_a", bin_width=width, n_buckets=N_BUCKETS)
                sinks.write_binned_spans(self.b, "pb_b", bin_width=width, n_buckets=N_BUCKETS)
            # managed tables live in <warehouse>/<name>
            return OpResult(None, 0, written=[os.path.join(self.warehouse, t) for t in ("pb_a", "pb_b")])
        if kind.startswith("prebinned"):
            with span("sinks"):
                a = sinks.read_bucketed(self.spark, "pb_a")
                b = sinks.read_bucketed(self.spark, "pb_b")
            with span("interval_join"):
                j = dfi.interval_join_prebinned(
                    a, b, bin_width=width, keepleft=kind == "prebinned_keepleft"
                )
            with span("execute"):
                fp = _fingerprint(j, "a_g", "b_id")
            return OpResult(fp, sum(r[1] for r in fp), prebinned_join=j)
        full = kind == "binned_full"
        with span("interval_join"):
            j = dfi.interval_join(self.a, self.b, keepleft=full, keepright=full)
        with span("execute"):
            fp = _fingerprint(j, "a_g", "b_id")
        return OpResult(fp, sum(r[1] for r in fp), auto_join=j)

    def expected(self, oracle: Oracle, op):
        kind, width = op
        if kind == "prebinned_write":
            return ("rows", oracle.binned_rows(width))
        flavour = {
            "binned_inner": "inner",
            "binned_full": "full",
            "prebinned_inner": "inner",
            "prebinned_keepleft": "keepleft",
        }[kind]
        return oracle.spans_op(flavour)

    def load_oracle(self, oracle: Oracle) -> None:
        oracle.load_spans(self.a_path, self.b_path)


def _dir_stats(dirs) -> dict:
    """Files, bytes and parquet rows under the written table dirs."""
    import pyarrow.parquet as pq

    files = nbytes = rows = 0
    for d in dirs:
        for name in os.listdir(d):
            if not name.endswith(".parquet"):
                continue
            path = os.path.join(d, name)
            files += 1
            nbytes += os.path.getsize(path)
            rows += pq.read_metadata(path).num_rows
    return {"files": files, "bytes": nbytes, "rows": rows}


WORKLOADS = {w.name: w for w in (WindowsJoin, BinnedRW)}
