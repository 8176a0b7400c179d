"""Parquet sinks tuned for cluster-scale re-reads.

The reference has no storage layer at all (in-memory tables only,
SURVEY.md §2.C); at 100 TB the layout you WRITE determines every
downstream plan, so the engine owns three write shapes:

- :func:`write_partitioned` — hive-style directory partitioning; reads
  that filter on the partition column scan only matching directories
  (partition pruning, visible as ``PartitionFilters`` in the plan).
- :func:`write_bucketed` — hash-bucketed (optionally sorted) table;
  equi-joins and aggregations on the bucket key need NO shuffle at
  read time, turning the biggest per-query cost at scale into a
  one-time write cost.  Both sides of a join bucketed with the same
  key and count co-locate.
- :func:`write_sorted_spans` — range-layout for interval tables:
  repartitionByRange + per-file sort on ``span.start`` gives parquet
  min/max row-group statistics that make time-slice reads skip
  non-overlapping files entirely.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession

from ..session import driver_count, driver_row


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the Hadoop FileSystem API —
    scheme-aware (file://, hdfs://, s3a://...), unlike a local glob,
    so the versioning/compaction contracts hold on any cluster
    filesystem instead of silently finding nothing off-box."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _list_versions(spark: SparkSession, path: str) -> list:
    """Sorted ``[(n, uri_string), ...]`` of ``v{N}`` children under
    ``path`` on whatever filesystem the path's scheme names."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("v") and name[1:].isdigit():
            out.append((int(name[1:]), st.getPath().toString()))
    return sorted(out)


def _count_files(spark: SparkSession, path: str, suffix: str = ".parquet") -> int:
    """Count direct children of ``path`` ending in ``suffix`` via the
    Hadoop FileSystem API (scheme-aware)."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return 0
    return sum(
        1
        for st in fs.listStatus(jpath)
        if st.getPath().getName().endswith(suffix)
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    mode: str = "overwrite",
) -> None:
    """Hive-partitioned parquet: one directory per distinct value tuple.

    Partition columns should be low-cardinality (≤ ~10k distincts);
    high-cardinality keys belong in buckets, not directories.

    The write is clustered on the partition columns first: unclustered,
    every task writes a file per value tuple it holds — n_tasks x
    n_partitions tiny files (guide §6 small-files)."""
    df.repartition(*partition_cols).write.mode(mode).partitionBy(
        *partition_cols
    ).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int,
    sort_cols: Optional[Sequence[str]] = None,
    path: Optional[str] = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed parquet table (registered in the session catalog —
    bucketing metadata lives in the table, not the files).

    A join between two tables bucketed on the same key with the same
    ``n_buckets`` is planned WITHOUT Exchange on either side; pick
    ``n_buckets`` so one bucket of the larger table fits an executor
    core's working set (at 100 TB and ~128 MB targets that is O(10^5)
    buckets — bucket counts only need to match across tables, they do
    not need to match cluster size)."""
    # Cluster the write so task == bucket: without this, every input
    # task writes a file per bucket it holds — n_tasks x n_buckets tiny
    # files (512 at bench scale, measured 3.0s -> 1.0s warm with the
    # repartition; at production bucket counts it is the difference
    # between n_buckets output files and millions).  Spark's bucket
    # assignment is HashPartitioning's own murmur3(seed 42) pmod
    # n_buckets, so repartitioning on the bucket columns aligns
    # exactly — one file per bucket (guide §6 small-files).
    from pyspark.sql import functions as F

    writer = (
        df.repartition(n_buckets, *[F.col(c) for c in bucket_cols])
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path is not None:
        writer = writer.option("path", path)
    writer.saveAsTable(table)


def read_bucketed(spark: SparkSession, table: str) -> DataFrame:
    """Read a bucketed table back WITH its bucket metadata (a plain
    ``spark.read.parquet`` of the same files would lose it)."""
    return spark.table(table)


def write_binned_spans(
    df: DataFrame,
    table: str,
    bin_width: int,
    n_buckets: int,
    spancol: str = "span",
    bounds: str = "[)",
    path: Optional[str] = None,
    mode: str = "overwrite",
    row_ids: bool = True,
) -> None:
    """Materialize a span table PRE-EXPLODED into fixed-width bins and
    hash-bucketed on the bin id — the storage layout that makes the
    binned interval join SHUFFLE-FREE.

    The binned join's dominant cost at scale is the exchange of both
    exploded sides on the bin key, paid per query.  Writing each table
    once with this layout moves that cost to write time: two tables
    binned with the SAME ``bin_width`` and ``n_buckets`` co-locate, and
    :func:`~..operators.interval_join.interval_join_prebinned` plans the
    join with ZERO Exchange (asserted in ``tests/test_plans.py``).

    ``row_ids`` (default on) stamps each BASE row with a unique id
    before the explode; storage-resident ids are what let the prebinned
    join offer ``keepleft``/``keepright`` outer recovery without the
    un-exploded base tables (and without any persist — the ids are
    stable on disk).  The id column is internal
    (``interval_join_prebinned`` drops it from join output).

    ``bin_width`` must match exactly at join time — record it in the
    table name or an external catalog."""
    from pyspark.sql import functions as F

    from ..operators.interval_join import _BIN, ROW_ID, _explode_bins

    if row_ids:
        df = df.withColumn(ROW_ID, F.monotonically_increasing_id())
    binned = _explode_bins(
        df, spancol, int(bin_width), bounds, True, keep_empty=True
    )
    write_bucketed(
        binned, table, [_BIN], n_buckets, sort_cols=[_BIN], path=path, mode=mode
    )


def write_sorted_spans(
    df: DataFrame,
    path: str,
    spancol: str = "span",
    n_files: Optional[int] = None,
    mode: str = "overwrite",
) -> None:
    """Range-partition by ``span.start`` and sort within each file.

    Parquet keeps min/max statistics per row group; after this layout a
    read filtered to a time slice ``[lo, hi)`` skips every file whose
    span range cannot overlap — the storage-side analogue of the binned
    join's pruning."""
    start = f"{spancol}.start"
    part = (
        df.repartitionByRange(n_files, start)
        if n_files is not None
        else df.repartitionByRange(start)
    )
    part.sortWithinPartitions(start).write.mode(mode).parquet(path)


def _file_count(df: DataFrame, target_file_mb: int) -> int:
    """Files of ``target_file_mb`` each for ``df``, from Catalyst's
    plan-size estimate (no job runs); the input partition count when
    the estimate is unavailable."""
    from ..operators.interval_join import _plan_size_bytes

    est = _plan_size_bytes(df)
    if est is None:
        return df.rdd.getNumPartitions()
    return est // (target_file_mb * (1 << 20)) + 1


def write_sized(
    df: DataFrame,
    path: str,
    target_file_mb: int = 256,
    mode: str = "overwrite",
    max_files: int = 100_000,
) -> int:
    """Compaction-aware write: size the output to ``target_file_mb``
    parquet files instead of one-file-per-input-partition — the
    small-files problem is the dominant metadata tax of long-lived
    lakes (a 100 TB table written from 50k tasks at 2 MB each is 50M
    files; NameNode/listing/open costs swamp the scan itself).

    File count comes from Catalyst's plan-size estimate (free — no extra
    job); the write round-robin repartitions to exactly that many
    tasks.  Plan-size over-estimates in-memory width vs parquet's
    encoded size, so files land at-or-under target — the safe side of
    the trade (2× too many 128 MB files is noise; 2× too few 512 MB
    files hurts task granularity).  Returns the file count used."""
    n = max(1, min(_file_count(df, target_file_mb), max_files))
    df.repartition(n).write.mode(mode).parquet(path)
    return n


def compact_table(
    spark: SparkSession,
    path: str,
    out_path: str,
    sort_cols: Optional[Sequence[str]] = None,
    target_file_mb: int = 256,
    mode: str = "overwrite",
) -> dict:
    """Table-maintenance compaction: rewrite a fragmented parquet
    directory into ``target_file_mb``-sized files, optionally restoring
    a range-sort layout (``sort_cols`` → ``repartitionByRange`` +
    in-file sort, so parquet min/max footer statistics become
    selective again) — the periodic job every long-lived lake table
    needs after streaming/incremental appends accumulate small files.

    Writes to ``out_path`` (never in place: readers of ``path`` are
    unaffected until the caller swaps directories — at production
    scale that swap is the catalog/manifest pointer flip).  Returns
    ``{"files_before", "files_after", "rows"}`` read from the
    filesystem and the write, so callers can assert the compaction
    actually compacted.

    Scale shape: one round-robin (unsorted) or range (sorted) exchange
    of the table — the same cost as the original write, amortized over
    every later scan's metadata/listing savings; file count comes from
    the plan-size estimate like :func:`write_sized` (no extra job).
    File counting goes through the Hadoop FileSystem API, so the
    before/after report is correct on hdfs://, s3a://, etc., not just
    the local filesystem."""
    df = spark.read.parquet(path)
    files_before = _count_files(spark, path)
    n = max(1, _file_count(df, target_file_mb))
    if sort_cols:
        part = df.repartitionByRange(n, *sort_cols).sortWithinPartitions(
            *sort_cols
        )
    else:
        part = df.repartition(n)
    part.write.mode(mode).parquet(out_path)
    files_after = _count_files(spark, out_path)
    return {
        "files_before": files_before,
        "files_after": files_after,
        # pure scan+count (no joins AQE could improve): one round-trip
        "rows": driver_count(spark.read.parquet(out_path)),
    }


def zorder_value(*cols, bits: int = 21):
    """Morton (Z-order) interleave of 2-4 non-negative bigint columns:
    bit ``b`` of column ``i`` lands at position ``len(cols)*b + i``.
    Pure codegen'd expression (an OR-tree of shift/mask terms, no
    UDF).  ``bits`` caps each input at ``2^bits``; callers bucketize
    their raw values first (see :func:`write_zordered`), and
    ``bits * len(cols)`` must stay under 63."""
    from pyspark.sql import functions as F

    n = len(cols)
    if not (2 <= n <= 4):
        raise ValueError(f"zorder_value takes 2-4 columns, got {n}")
    if bits * n > 62:
        raise ValueError(f"bits * n_cols must be <= 62, got {bits}*{n}")
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            terms.append(
                F.shiftleft(
                    F.shiftright(c, b).bitwiseAND(F.lit(1)), n * b + i
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int,
    mode: str = "overwrite",
) -> None:
    """Z-order layout over 2-4 columns: co-clusters every dimension so
    a read filtered on ANY of them skips most files via parquet
    min/max row-group statistics — the multi-dimensional generalization
    of :func:`write_sorted_spans` (which optimizes one sort key and
    leaves the second dimension scattered everywhere).

    Each column is first bucketized against its [min, max] range (one
    tiny fused partial-agg action; the per-row mapping is then a pure
    narrow projection — deliberately NOT a global ``dense_rank``
    window, which would plan the single-partition exchange this engine
    bans), then rows are range-partitioned and sorted by the Morton
    code of the bucket ids (62 bits split evenly across dimensions).  This is the standard lake-layout
    trick (Delta/Iceberg ``OPTIMIZE ZORDER BY``) expressed as plain
    DataFrame ops.  Heavily skewed domains bucketize unevenly —
    acceptable for skipping (files stay sorted), and an
    ``approxQuantile`` bucket map drops in where equal-width hurts.

    Cost shape: one scalar agg + one range repartition on the z-value
    + per-file sort.  Write-once, skip-forever.
    """
    from pyspark.sql import functions as F

    if not (2 <= len(cols) <= 4):
        raise ValueError(f"write_zordered takes 2-4 cols, got {cols!r}")
    if n_files < 1:
        raise ValueError(f"n_files must be >= 1, got {n_files}")
    bits = 62 // len(cols)  # 31/20/15 bits per dim for 2/3/4 columns
    st = driver_row(
        df.agg(
            *[
                a
                for i, c in enumerate(cols)
                for a in (F.min(c).alias(f"l{i}"), F.max(c).alias(f"h{i}"))
            ]
        )
    )
    if any(st[f"l{i}"] is None for i in range(len(cols))):
        # empty input (or an all-null z column): no bucket map exists —
        # write the empty table rather than crashing in int(None)
        df.coalesce(1).write.mode(mode).parquet(path)
        return

    def bucket(col, lo, hi):
        span = max(int(hi) - int(lo), 1)
        m = (1 << bits) - 1
        # the bucket map must STRETCH the domain across the full bit
        # range, not merely bound it: a narrow domain (say user ids
        # 0..99) compressed into the low 7 bits leaves its HIGH bits
        # constant, and the z-value's top bits — the ones the range
        # partitioner splits files on — then carry only the other
        # dimension, destroying the two-sided skipping this layout
        # exists for.  Multiply-first when it cannot overflow a long
        # (span < 2^41); ns-scale domains fall back to divide-first,
        # which already fills the bit range.
        if span * (m + 1) < (1 << 62):
            e = f"((CAST({col} AS BIGINT) - {int(lo)}L) * {m}L) DIV {span}L"
        else:
            w = -(-span // (1 << bits))
            e = f"(CAST({col} AS BIGINT) - {int(lo)}L) DIV {w}L"
        return F.least(F.expr(e), F.lit(m))

    z = df.withColumn(
        "__z",
        zorder_value(
            *[
                bucket(c, st[f"l{i}"], st[f"h{i}"])
                for i, c in enumerate(cols)
            ],
            bits=bits,
        ),
    )
    (
        z.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def update_register_index(
    spark: SparkSession,
    path: str,
    batch_regs: DataFrame,
    merge,
    keep_versions: int = 2,
) -> str:
    """Versioned maintenance for a MERGEABLE register index — the one
    persistence pattern every sketch family here shares (KMV bottom-k,
    HLL re-max, CMS re-sum, QSK re-bottom-k: per-slice register tables
    merge to exactly the whole input's).  Reads the latest ``v{N}``
    under ``path``, merges it with ``batch_regs`` via
    ``merge(prev, batch)`` (e.g. ``cms_merge_registers``,
    ``lambda a, b: qsk_merge_registers(a, b, k=..., by=...)``), writes
    ``v{N+1}``, then prunes to ``keep_versions`` newest — versioned
    because Spark cannot overwrite a path it is reading, and the
    previous version must survive until the new write has committed
    (write-then-prune ordering guarantees that here).

    Designed for ``foreachBatch`` (the streaming story of the sketch
    families whose maintenance is a window, not an aggregation) and
    for daily batch appends alike.  The index is ≤ groups·k (or
    depth·width / 2^p) rows, so each merge is sketch-sized work
    regardless of history size.  Returns the new version's path.
    Version listing and pruning go through the Hadoop FileSystem API
    (scheme-aware), so the merge-with-history contract holds on
    hdfs://, s3a://, etc. — a listing that silently found nothing
    would otherwise discard the merge and collide on v0."""
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    versions = _list_versions(spark, path)
    if versions:
        prev = spark.read.parquet(versions[-1][1])
        out = merge(prev, batch_regs)
        n = versions[-1][0] + 1
    else:
        out = batch_regs
        n = 0
    new_path = path.rstrip("/") + f"/v{n}"
    # "error" mode: a concurrent writer racing to the same version is a
    # bug worth surfacing, not silently overwriting
    out.write.mode("error").parquet(new_path)
    survivors = keep_versions - 1  # plus the one just written
    stale = versions[: len(versions) - survivors] if survivors else versions
    fs, _ = _hadoop_fs(spark, path)
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    for _, old in stale:
        try:
            fs.delete(jvm_path(old), True)
        except Exception:
            pass  # pruning is best-effort; the new version is committed
    return new_path


def read_register_index(
    spark: SparkSession, path: str, version: Optional[int] = None
) -> DataFrame:
    """Read an :func:`update_register_index` index (scheme-aware
    listing): the newest version by default, or a pinned ``version``
    number for time travel — any version still inside the
    ``keep_versions`` retention window is readable, so a consumer can
    compare "the index as of the previous merge" against the current
    one (sketch deltas, rollback checks).  Raises FileNotFoundError
    when no version exists (or the requested one was pruned)."""
    versions = _list_versions(spark, path)
    if not versions:
        raise FileNotFoundError(f"no register index versions under {path}")
    if version is None:
        return spark.read.parquet(versions[-1][1])
    for n, uri in versions:
        if n == int(version):
            return spark.read.parquet(uri)
    kept = [n for n, _ in versions]
    raise FileNotFoundError(
        f"register index version {version} not under {path} "
        f"(kept versions: {kept} — older ones are pruned by "
        "keep_versions)"
    )


def write_jsonl(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    compression: str = None,
    target_rows_per_file: int = 0,
) -> None:
    """Write line-delimited JSON (the LLM-corpus interchange format —
    one document object per line, the shape Dolma/RedPajama-style
    pipelines exchange): Spark's native distributed JSON sink, one
    shard per task, optional codec (``gzip``/``zstd``) and a
    row-count-based repartition for shard sizing.

    Scale note: JSONL is the INTERCHANGE format, not the processing
    format — numbers round-trip exactly only for integers and
    shortest-repr doubles, and the reader must be given an explicit
    schema (:func:`..read_json` refuses inference for the same
    reason the CSV reader does: an inference pass reads everything
    twice and guesses).  Keep parquet as the working format;
    ``q_jsonl_roundtrip`` gates the fidelity of the hop."""
    if target_rows_per_file > 0:
        n = df.count()
        df = df.repartition(max(1, -(-n // target_rows_per_file)))
    w = df.write.mode(mode)
    if compression:
        w = w.option("compression", compression)
    w.json(path)
