"""Parquet sources over the driver's testdata + span-view derivations.

The reference ingests any in-memory Tables.jl table zero-copy
(/root/reference/src/DataFrameIntervals.jl:133-134); our sources are
parquet scans (columnar, predicate-pushdown-friendly) plus the standard
derivations from FIXTURES.md §F5 that turn point-event tables into
interval tables.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

from weakref import WeakKeyDictionary

from ..functions.spans import NS_PER_US, make_span
from ..session import ensure_session_configs

# per-session raw reader DataFrames (see read_table) — weak keys so a
# stopped session's JVM references are collectable
_reader_memo: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ts_to_ns(col: F.Column) -> F.Column:
    """Epoch-ns bigint from a timestamp column.

    The session timezone is pinned to UTC (session.py), so casting
    TIMESTAMP_NTZ -> TIMESTAMP is a pure reinterpretation and the result
    matches DuckDB's ``epoch_ns(ts)`` bit-for-bit — the invariant every
    oracle depends on.
    """
    return (F.unix_micros(col.cast("timestamp")) * F.lit(1000)).cast(LongType())


def col_to_ns(col: F.Column, dtype) -> F.Column:
    """Epoch-ns bigint from whatever physical type the driver shipped a
    time column as — the testdata has ALREADY flipped ``events.ts``
    between parquet ``timestamp[ns]`` (bigint under ``nanosAsLong``)
    and ``timestamp[us]`` (TIMESTAMP_NTZ) across rounds, which broke a
    recorded round.  Dispatching on the observed dtype makes every
    date/timestamp-derived span robust to the same drift: bigint passes
    through (already ns); timestamp / timestamp_ntz / date go through
    the UTC-pinned µs→ns conversion.  A bigint must NEVER reach
    ``cast('timestamp')`` — Spark reads it as epoch SECONDS, silently
    producing wrong values rather than an error.
    """
    if isinstance(dtype, LongType):
        return col.cast(LongType())
    return ts_to_ns(col)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan with the engine's canonical-unit normalization.

    The engine is epoch-ns-bigint native for ``events.ts``.  Driver
    testdata has shipped that column both as parquet ``timestamp[ns]``
    (read as bigint via ``nanosAsLong``) and as ``timestamp[us]`` (read
    as TIMESTAMP_NTZ); normalizing here restores one contract for every
    downstream operator regardless of the physical type.  The conversion
    is a codegen'd projection — no shuffle, column pruning still reaches
    the scan; only pushdown of filters *on ts itself* is lost, and no
    catalog query filters raw ts at the scan.
    """
    ensure_session_configs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    # Memoize the RAW reader DataFrame per (session, path):
    # ``spark.read.parquet`` runs a 1-task footer/schema job at
    # construction, and a single catalog query routinely calls
    # read_table 2-4 times for the same table (fact projection, mask
    # derivation, bounds probe) — each paying that job again.  The memo
    # shares the immutable logical plan (schema + file index), exactly
    # like reusing a registered table: no data or results are cached,
    # every action still computes from the parquet files.  The source
    # tables are immutable test/bench inputs by contract — never
    # memoize a path the engine also writes (fixture scratch dirs go
    # through bare spark.read).
    per = _reader_memo.setdefault(spark, {})
    df = per.get(path)
    if df is None:
        df = spark.read.parquet(path)
        per[path] = df
    if name == "events" and isinstance(
        df.schema["ts"].dataType, (TimestampType, TimestampNTZType)
    ):
        df = df.withColumn("ts", ts_to_ns(F.col("ts")))
    return df


def read_csv(
    spark: SparkSession,
    path: str,
    schema,
    header: bool = True,
    **options,
) -> DataFrame:
    """CSV interchange reader.  ``schema`` is REQUIRED (DDL string or
    StructType): ``inferSchema`` means a full extra pass over the data
    and nondeterministic types — never acceptable at 100 TB.  Parquet
    remains the engine's native format; CSV/JSON exist for ingest
    boundaries."""
    ensure_session_configs(spark)
    return spark.read.options(header=str(header).lower(), **options).schema(
        schema
    ).csv(path)


def read_json(spark: SparkSession, path: str, schema, **options) -> DataFrame:
    """JSON-lines interchange reader; explicit ``schema`` required (same
    rationale as :func:`read_csv` — schema inference reads everything
    twice and types drift between files)."""
    ensure_session_configs(spark)
    return spark.read.options(**options).schema(schema).json(path)


def _is_bare_scan(df: DataFrame) -> bool:
    """True when the analyzed plan is just scan + projections/filters
    (no joins/aggregates/exchanges) — the only shape whose partition
    count can be read without executing upstream stages."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
    except Exception:
        return False
    banned = ("Join", "Aggregate", "Sort", "Window", "Exchange", "Repartition")
    return not any(b in plan for b in banned)


_warned_derived_passthrough = False


def ensure_parallelism(df: DataFrame, min_partitions: int = 0) -> DataFrame:
    """Round-robin repartition IF the input has fewer partitions than the
    cluster has cores (default target).

    Spark sizes scan partitions by bytes (``maxPartitionBytes``), which
    is the wrong granularity ahead of CPU-heavy per-row work: a 2 MB
    parquet file is one task, so a 32-core machine runs a minhash or
    simhash pass single-threaded.  CPU-bound operators call this before
    their expensive projection.  At 100 TB the scan already has
    thousands of partitions, so the condition is false and this is a
    no-op — it only ever ADDS a (tiny) shuffle on inputs small enough
    that the shuffle is free.

    Only BARE SCANS are inspected: with AQE enabled, touching ``.rdd``
    on a derived DataFrame (join/agg output) materializes the physical
    plan and EXECUTES its upstream shuffle stages as real jobs — the
    partition-count peek would run the pipeline once for the count and
    again for the query.  Derived plans pass through untouched (their
    partitioning already comes from a shuffle sized by
    ``spark.sql.shuffle.partitions``) — with a once-per-process warning,
    since a CPU-heavy caller handing in a narrow derived input silently
    loses the parallelism floor it asked for."""
    if not _is_bare_scan(df):
        global _warned_derived_passthrough
        if not _warned_derived_passthrough:
            _warned_derived_passthrough = True
            warnings.warn(
                "ensure_parallelism: input is a derived plan "
                "(join/agg/shuffle upstream), so its partition count "
                "cannot be inspected without executing it; passing "
                "through unchanged. If the downstream operator is "
                "CPU-bound and the input is narrow, repartition() it "
                "explicitly before calling.",
                stacklevel=2,
            )
        return df
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def event_spans(
    spark: SparkSession, sf_dir: str, truncate_us: bool = False
) -> DataFrame:
    """Per-user adjacent spans from the point-event stream.

    ``span = [ts, next ts per user)`` via lead(); the last event of each
    user has no successor and is dropped.  ``ts`` arrives as bigint
    epoch-ns thanks to ``nanosAsLong`` (see session.py).  Mirrors the
    reference test fixture's adjacent-TimeSpans construction
    (/root/reference/test/runtests.jl:15-20) but derived from real data.

    ``truncate_us=True`` truncates timestamps to whole microseconds
    (still expressed in ns).  The engine is ns-native; this exists for
    the driver's DuckDB oracle, which reads parquet ``timestamp[ns]`` at
    microsecond precision — both systems must see identical bigints.
    """
    ev = read_table(spark, sf_dir, "events")
    ts = F.col("ts") - F.pmod(F.col("ts"), F.lit(1000)) if truncate_us else F.col("ts")
    ev = ev.select("event_id", "user_id", "event_type", "value", ts.alias("ts"))
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("__next_ts", F.lead("ts").over(w))
        .filter(F.col("__next_ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "event_type",
            "value",
            make_span(F.col("ts"), F.col("__next_ts")).alias("span"),
        )
    )


def order_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders as 30-day spans ``[o_orderdate, o_orderdate + 30d)``."""
    od = read_table(spark, sf_dir, "orders")
    start_ns = col_to_ns(
        F.col("o_orderdate"), od.schema["o_orderdate"].dataType
    )
    day_ns = 86_400_000_000_000
    return od.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderpriority",
        make_span(start_ns, start_ns + F.lit(30) * day_ns).alias("span"),
    )


def read_orc(spark: SparkSession, path: str, schema=None, **options) -> DataFrame:
    """ORC interchange reader — Spark ships the ORC datasource
    natively (predicate pushdown + column pruning like parquet).
    ``schema`` optional: ORC files carry their own schema; pass one to
    enforce a contract at the boundary."""
    ensure_session_configs(spark)
    r = spark.read.options(**options)
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)
