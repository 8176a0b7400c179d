"""Approximate-nearest-neighbor search over embedding columns.

Two paths over an ``array<float>`` column:

- ``cosine_topk``: exact brute-force top-k.  The query side is
  broadcast; dot products are array expressions (``zip_with`` +
  ``aggregate``, JVM-side); top-k via window row_number.  At 100 TB this
  is one broadcast pass over the corpus — no shuffle of the corpus
  itself — so it is the right *baseline*, linear in corpus size.
- ``lsh_topk``: random-hyperplane (signed projection) LSH buckets; the
  corpus is hashed once, queries probe only matching buckets — the
  scale path that avoids reading the whole corpus per query.
- ``ivf_topk``: inverted-file index — deterministic k-means centroids
  trained on a hash-sampled subset (driver-side, tiny), every corpus
  vector assigned to its nearest cell in one Arrow-batched pass,
  queries probe only their ``n_probe`` closest cells.  The candidate
  join is a cell equi-join, so the corpus is read once and shuffled
  only by cell — the standard billion-vector ANN layout.

Determinism note: dot products are computed on fixed-point int64
(``round(x * 10^6)``) so results are exactly reproducible across
engines (integer sums are order-independent; float sums are not) — this
is also what the DuckDB oracle computes.
"""

from __future__ import annotations

import math
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import driver_count, driver_row, driver_rows

from ..sources import ensure_parallelism

QUANT = 1_000_000

#: Intermediates the ANN operators persisted and have not yet released
#: — lsh bucket tables, IVF cell assignments, PQ code tables, query
#: LUTs.  These persists are load-bearing (an Arrow UDF pass must not
#: re-run inside a join stage / a multi-read boundary), but the
#: RESULTS are lazy so the operator cannot know when its caller has
#: materialized them; callers release with :func:`release_ann_caches`
#: (bench.py does, between queries) or ``spark.catalog.clearCache()``.
_ANN_CACHES: list = []

#: FIFO cap on the registry: long-lived sessions that never call
#: :func:`release_ann_caches` would otherwise accumulate persisted
#: intermediates (executor storage memory + lineage refs) without
#: bound.  When the cap is hit the OLDEST entry is unpersisted — by
#: then its consumer has long since materialized, and in the worst
#: case an unmaterialized result merely recomputes its bounded pass.
_ANN_CACHE_CAP = 32


def _track_cache(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for :func:`release_ann_caches`;
    FIFO-evicts beyond ``_ANN_CACHE_CAP`` so sessions that never
    release do not leak storage memory."""
    df = df.persist()
    _ANN_CACHES.append(df)
    while len(_ANN_CACHES) > _ANN_CACHE_CAP:
        old = _ANN_CACHES.pop(0)
        try:
            old.unpersist()
        except Exception:
            pass
    return df


def release_ann_caches() -> int:
    """Unpersist every intermediate the ANN operators cached since the
    last release; returns how many were released.  Safe to call any
    time — a result already materialized is unaffected, a result NOT
    yet materialized simply recomputes its (bounded) Arrow pass."""
    n = 0
    while _ANN_CACHES:
        df = _ANN_CACHES.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


#: Broadcast-safety ceiling for the EXACT baselines (`cosine_topk` /
#: `sq8_topk`): both cross-join the corpus against a broadcast query
#: side, so cost is O(corpus x queries) and the query table must fit in
#: every executor.  Mirrors AUTO_BROADCAST_ROWS in the join family.
EXACT_QUERY_BROADCAST_ROWS = 10_000


def _guard_exact_queries(
    queries: DataFrame, allow_large_queries: bool, op: str
) -> None:
    """Refuse an over-broadcast query side on the exact baselines.

    One bounded action (`limit(n+1).count()` — the scan stops as soon
    as the limit is hit) keeps the truth baselines from being silently
    routed at scale: a 1M-query exact pass is a 1M-way broadcast
    nested loop.  Large query sets belong on `lsh_topk` /
    `ivf_topk_indexed`; callers that genuinely want the quadratic pass
    (recall-floor tests, tiny corpora) opt in with
    ``allow_large_queries=True``."""
    if allow_large_queries:
        return
    n = driver_count(queries.limit(EXACT_QUERY_BROADCAST_ROWS + 1))
    if n > EXACT_QUERY_BROADCAST_ROWS:
        raise ValueError(
            f"{op}: query side has more than "
            f"{EXACT_QUERY_BROADCAST_ROWS} rows ({n}+); the exact "
            "baseline is O(corpus x queries) with a broadcast query "
            "table and is meant as a truth baseline, not a scale "
            "path. Use lsh_topk / ivf_topk_indexed for large query "
            "sets, or pass allow_large_queries=True to force the "
            "quadratic pass."
        )


def _quantized(col):
    return F.transform(col, lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _popcount(x: np.ndarray) -> np.ndarray:
    """Vectorized 64-bit population count (numpy 1.x has no
    ``bitwise_count``); the classic SWAR reduction, exact for uint64."""
    x = x.astype(np.uint64, copy=True)
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return ((x * np.uint64(0x0101010101010101)) >> np.uint64(56)).astype(
        np.int64
    )


# NOTE: an Arrow-batched numpy dot (pandas_udf over both join-side
# arrays) was tried for the high-volume candidate-scoring path and
# MEASURED 2-4x SLOWER than the interpreted JVM aggregate/zip_with
# expression at 1.5M candidate pairs — the per-row array handoff to the
# Python workers (serialization + per-cell object conversion) swamps the
# einsum win.  Batched numpy pays off only when the matmul amortizes the
# transfer (blocked applyInPandas in exact mode, where each task does
# one big matrix product), not for row-at-a-time pair scoring.


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    allow_large_queries: bool = False,
) -> DataFrame:
    """Exact cosine top-k: (q_id, rank, n_id, score).

    ``queries`` is broadcast (the typical many-corpus × few-queries
    shape); ties broken by neighbor id so ranking is total.  Refuses
    query sides above :data:`EXACT_QUERY_BROADCAST_ROWS` unless
    ``allow_large_queries=True`` — this is the O(corpus × queries)
    truth baseline, not the scale path (use ``lsh_topk`` /
    ``ivf_topk_indexed`` there)."""
    _guard_exact_queries(queries, allow_large_queries, "cosine_topk")
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("n_id"), _quantized(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("q_id"), _quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _dot(F.col("qv"), F.col("qv")))

    pairs = c.join(F.broadcast(q), F.lit(True))
    if exclude_self:
        pairs = pairs.filter(F.col("n_id") != F.col("q_id"))
    dot = _dot(F.col("cv"), F.col("qv"))
    scored = pairs.select(
        "q_id",
        "n_id",
        (
            dot.cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


#: Per-table seed stride for multi-table LSH (odd 64-bit constant, so
#: table seeds never collide and table 0 equals the single-table case).
_TABLE_SEED_STRIDE = 0xD1B54A32D192ED03

LSH_BASE_SEED = 0x243F6A8885A308D3


def lsh_table_seed(table: int) -> int:
    return (LSH_BASE_SEED + table * _TABLE_SEED_STRIDE) & ((1 << 64) - 1)


def _hyperplanes(
    dim: int, n_planes: int, seed: int = LSH_BASE_SEED
) -> list[list[int]]:
    """Deterministic pseudo-random hyperplanes (splitmix64 → ±small ints)."""
    planes = []
    state = seed
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state + 0x9E3779B97F4A7C15) & ((1 << 64) - 1)
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & ((1 << 64) - 1)
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & ((1 << 64) - 1)
            z ^= z >> 31
            row.append((z % 2001) - 1000)  # ~uniform in [-1000, 1000]
        planes.append(row)
    return planes


def lsh_hash_frame(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    seeds: list,
) -> DataFrame:
    """``(id, v, bs, nrm)`` — quantized vector, per-table LSH buckets,
    and squared norm, computed in ONE Arrow-batched numpy pass.

    Bit-identical to the expression path: quantization is
    ``sign(x)·floor(|x·10^6| + 0.5)`` (HALF_UP away from zero — what
    both Spark's and DuckDB's ``round`` compute, unlike numpy's
    half-even ``round``), plane dots are exact int64 matmuls, a bucket
    bit is set iff the projection is positive.  One matmul replaces
    ``n_tables × n_planes`` interpreted per-plane aggregates that each
    re-evaluated the quantization — O(tables·planes·dim) expression
    work per row collapses to one batched pass, and the ArrowEvalPython
    barrier doubles as the materialization boundary the expression
    path needed persist+count actions for (q_similarity_lsh measured
    5.6s → 4.2s warm from dropping those two actions alone).  The
    sanctioned Arrow exception to the no-Python rule: the matmul
    amortizes the batch transfer.
    """
    P = np.array(
        [_hyperplanes(dim, n_planes, s) for s in seeds], dtype=np.int64
    )  # (tables, planes, dim)
    bits = (1 << np.arange(n_planes, dtype=np.int64))
    idc, vc = id_col, vec_col

    def hash_batches(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            if not len(pdf):
                continue
            mat = np.array([np.asarray(r, dtype=np.float64) for r in pdf[vc]])
            x = mat * 1e6
            v = (np.sign(x) * np.floor(np.abs(x) + 0.5)).astype(np.int64)
            bs = []
            for t in range(len(P)):
                proj = v @ P[t].T  # exact: |v|≤1e6+, |P|≤1000, dim·1e9 < 2^63
                bs.append(((proj > 0) * bits).sum(axis=1))
            bs_arr = np.stack(bs, axis=1)
            yield pd.DataFrame(
                {
                    "id": pdf[idc].astype("int64").to_numpy(),
                    "v": list(v),
                    "bs": list(bs_arr),
                    "nrm": (v * v).sum(axis=1),
                }
            )

    return df.select(F.col(idc), F.col(vc)).mapInPandas(
        hash_batches, "id long, v array<long>, bs array<long>, nrm long"
    )


def embedding_neardup_pairs(
    corpus: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
    n_planes: Optional[int] = None,
    n_blocks: int = 16,
    probe_radius: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Near-duplicate pairs by embedding cosine: (id_a, id_b, score)
    with ``score >= threshold`` and ``id_a < id_b``.

    Exact mode (``n_planes=None``): blocked all-pairs — rows are hashed
    into ``n_blocks`` blocks, replicated to every block-pair group
    (×``n_blocks`` shuffle amplification), and each of the
    n·(n+1)/2 groups computes its slice of the similarity matrix as ONE
    numpy int64 matmul inside ``applyInPandas``.  All-pairs is
    inherently quadratic; blocking makes it embarrassingly parallel
    with bounded per-task memory (the right exact-baseline shape —
    interpreted per-pair array expressions measured ~15x slower).
    Scores are exact and engine-reproducible: fixed-point int64 dots,
    one float64 division at the end.

    LSH mode (``dim`` + ``n_planes`` set): candidates restricted to
    signed-projection buckets within hamming distance ``probe_radius``
    — the 100 TB path (near-identical vectors land in the same bucket
    with probability ≈ (1 - θ/π)^planes; probing radius-r
    neighborhoods buys recall at moderate thresholds).

    Execution: vectors are grouped per (table, bucket) once — NO probe
    explode of the row stream — and candidate **bucket pairs** within
    hamming ``probe_radius`` are enumerated on the driver from the
    observed buckets (≤ n_tables·2^n_planes values, bounded by
    construction) and broadcast.  Each joined bucket-pair block scores
    its cross product as ONE numpy int64 matmul inside ``mapInPandas``
    (the same exact fixed-point arithmetic as the expression path:
    int64 dots, one float64 divide — bit-identical scores, measured
    ~5× less CPU than per-row array-expression dots and ~90× fewer
    joined rows than the probe-explode formulation).  Per-task memory
    is two buckets' vectors — n_planes sets the block granularity
    exactly like ``n_blocks`` does for the exact mode.
    """
    if n_planes is not None:
        if dim is None:
            raise ValueError("LSH mode needs `dim`")
        if n_planes > 24:
            raise ValueError(
                "LSH mode enumerates the 2^n_planes bucket space on the "
                "driver; n_planes > 24 is not supported (and buckets that "
                "fine hold ~1 vector each — lower n_planes or raise "
                "probe_radius instead)"
            )
        spark = corpus.sparkSession
        seeds = [lsh_table_seed(t) for t in range(n_tables)]
        base = lsh_hash_frame(
            ensure_parallelism(corpus), id_col, vec_col, dim, n_planes, seeds
        ).drop("nrm")
        # one grouped row per (table, bucket): ~n_tables·2^n_planes rows
        flat = base.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"), F.col("bs")[t].alias("bucket")
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
            F.struct("id", "v", "bs").alias("item"),
        ).select(F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"), "item")
        grouped = (
            flat.groupBy("tbl", "bucket")
            .agg(F.collect_list("item").alias("items"))
        )
        grouped = _track_cache(grouped)
        # observed buckets -> neighbor bucket pairs within probe_radius
        # (driver-side: bounded by the bucket space, NOT the corpus)
        seen = {
            (r["tbl"], r["bucket"])
            for r in driver_rows(grouped.select("tbl", "bucket"))
        }
        masks = probe_masks(n_planes, probe_radius)
        nbr_rows = [
            (t, b, b ^ m)
            for (t, b) in seen
            for m in masks
            if b <= (b ^ m) and (t, b ^ m) in seen
        ]
        nbr = spark.createDataFrame(nbr_rows, "tbl int, b_lo long, b_hi long")
        blocks = (
            F.broadcast(nbr)
            .join(
                grouped.select(
                    "tbl",
                    F.col("bucket").alias("b_lo"),
                    F.col("items").alias("items_a"),
                ),
                ["tbl", "b_lo"],
            )
            .join(
                grouped.select(
                    "tbl",
                    F.col("bucket").alias("b_hi"),
                    F.col("items").alias("items_b"),
                ),
                ["tbl", "b_hi"],
            )
            .select("tbl", "b_lo", "b_hi", "items_a", "items_b")
        )

        thr = float(threshold)
        radius = int(probe_radius)

        def score_blocks(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in pdfs:
                for row in pdf.itertuples(index=False):
                    same = row.b_lo == row.b_hi
                    ia = row.items_a
                    ib = ia if same else row.items_b
                    ids_a = np.array([it["id"] for it in ia], dtype=np.int64)
                    ids_b = np.array([it["id"] for it in ib], dtype=np.int64)
                    A = np.array([it["v"] for it in ia], dtype=np.int64)
                    B = A if same else np.array(
                        [it["v"] for it in ib], dtype=np.int64
                    )
                    # int64 dots exact; float64 divide = the same IEEE op
                    # the expression path (and the DuckDB oracle) runs
                    sc = (A @ B.T).astype(np.float64) / np.sqrt(
                        (A * A).sum(axis=1).astype(np.float64)[:, None]
                        * (B * B).sum(axis=1).astype(np.float64)[None, :]
                    )
                    xi, yi = np.where(sc >= thr)
                    if same:
                        # each unordered pair appears twice in the self
                        # block — keep the ordered one (also drops x==x)
                        keep = ids_a[xi] < ids_b[yi]
                        xi, yi = xi[keep], yi[keep]
                    if not len(xi):
                        continue
                    # emit-once across tables: skip pairs already within
                    # probe_radius in an EARLIER table
                    if row.tbl > 0:
                        bs_a = np.array(
                            [it["bs"] for it in ia], dtype=np.uint64
                        )
                        bs_b = bs_a if same else np.array(
                            [it["bs"] for it in ib], dtype=np.uint64
                        )
                        earlier = np.zeros(len(xi), dtype=bool)
                        for tp in range(row.tbl):
                            x = bs_a[xi, tp] ^ bs_b[yi, tp]
                            earlier |= _popcount(x) <= radius
                        xi, yi = xi[~earlier], yi[~earlier]
                        if not len(xi):
                            continue
                    # cross-bucket blocks see each unordered pair once,
                    # in arbitrary id order — normalize to id_a < id_b
                    lo = np.minimum(ids_a[xi], ids_b[yi])
                    hi = np.maximum(ids_a[xi], ids_b[yi])
                    yield pd.DataFrame(
                        {"id_a": lo, "id_b": hi, "score": sc[xi, yi]}
                    )

        out = blocks.mapInPandas(
            score_blocks, "id_a long, id_b long, score double"
        )
        return out.select("id_a", "id_b", F.round("score", 6).alias("score"))

    nb = max(int(n_blocks), 1)
    thr = float(threshold)
    base = corpus.select(
        F.col(id_col).alias("id"), _quantized(F.col(vec_col)).alias("v")
    ).withColumn("blk", F.pmod(F.xxhash64(F.col("id")), F.lit(nb)).cast("int"))
    pair_structs = F.array(
        *[
            F.struct(F.lit(i).alias("i"), F.lit(j).alias("j"))
            for i in range(nb)
            for j in range(i, nb)
        ]
    )
    rep = base.withColumn(
        "pk",
        F.explode(
            F.filter(
                pair_structs,
                lambda p: (p["i"] == F.col("blk")) | (p["j"] == F.col("blk")),
            )
        ),
    )

    def block_pairs(key, pdf: pd.DataFrame):
        bi, bj = key
        ids = pdf["id"].to_numpy()
        mat = np.array(pdf["v"].tolist(), dtype=np.int64)
        nrm = (mat * mat).sum(axis=1).astype(np.float64)
        if bi == bj:
            dots = mat @ mat.T
            sc = dots / np.sqrt(nrm[:, None] * nrm[None, :])
            ia, ib = np.where(sc >= thr)
            keep = ids[ia] < ids[ib]
            ia, ib = ia[keep], ib[keep]
            return pd.DataFrame(
                {"id_a": ids[ia], "id_b": ids[ib], "score": sc[ia, ib]}
            )
        am = pdf["blk"].to_numpy() == bi
        A, B = mat[am], mat[~am]
        ida, idb = ids[am], ids[~am]
        na, nbm = nrm[am], nrm[~am]
        if not len(A) or not len(B):
            return pd.DataFrame({"id_a": [], "id_b": [], "score": []})
        sc = (A @ B.T) / np.sqrt(na[:, None] * nbm[None, :])
        ia, ib = np.where(sc >= thr)
        lo = np.minimum(ida[ia], idb[ib])
        hi = np.maximum(ida[ia], idb[ib])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "score": sc[ia, ib]})

    out = rep.groupBy(F.col("pk.i"), F.col("pk.j")).applyInPandas(
        block_pairs, "id_a long, id_b long, score double"
    )
    return out.select("id_a", "id_b", F.round("score", 6).alias("score"))


# sample-order hash constants ((id*A + B) mod M — pure arithmetic so the
# DuckDB oracle replays the exact same sample selection)
SAMPLE_A = 1_103_515_245
SAMPLE_B = 12_345
SAMPLE_M = (1 << 31) - 1
IVF_ITERS = 10


def _centroid_norms(cent: np.ndarray) -> np.ndarray:
    """||c|| per centroid as float64, with the sum of squares computed in
    exact (arbitrary-precision) integer arithmetic first — both the
    int→double conversion and sqrt are correctly rounded IEEE ops, so
    DuckDB reproduces the identical double."""
    return np.array(
        [math.sqrt(sum(int(v) * int(v) for v in row)) for row in cent],
        dtype=np.float64,
    )


def _train_centroids(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
):
    """Deterministic spherical k-means on a hash-sampled subset —
    bit-reproducible across engines.

    Sampling is by ``(id*A + B) mod M`` order (stable across runs and
    partitionings — no RNG, no ``limit`` nondeterminism); init is the
    first ``n_centroids`` sample rows, then ``IVF_ITERS`` Lloyd
    iterations with cosine assignment.  The sample (≤ 256 rows/centroid)
    and the training loop live on the driver: IVF training state is tiny
    and serial; the *corpus* is never collected.

    Every arithmetic step is either exact integer math or a correctly
    rounded IEEE double op (convert / divide / sqrt / floor), so the
    DuckDB correctness oracle replays training to the exact same
    centroids: vectors stay fixed-point int64; assignment score is
    ``dot_int / ||c||``; the centroid update re-quantizes the member
    mean direction to ``floor(QUANT * m_i / ||m||)``."""
    sample_n = 256 * n_centroids
    key = F.pmod(F.col("id") * F.lit(SAMPLE_A) + F.lit(SAMPLE_B), F.lit(SAMPLE_M))
    sample = (
        corpus.select(
            F.col(id_col).alias("id"), _quantized(F.col(vec_col)).alias("v")
        )
        .orderBy(key, F.col("id"))
        .limit(sample_n)
    )
    sample = driver_rows(sample)
    if not sample:
        raise ValueError("ivf_topk: corpus is empty — nothing to index")
    x = np.array([r["v"] for r in sample], dtype=np.int64)
    k = min(n_centroids, len(x))
    cent = x[:k].copy()
    for _ in range(IVF_ITERS):
        # int64 dots are exact (|v| ≤ QUANT ⇒ dot ≤ dim·QUANT² < 2^53);
        # division by the exact-rounded norm is the same IEEE op DuckDB runs
        scores = (x @ cent.T).astype(np.float64) / _centroid_norms(cent)[None, :]
        assign = scores.argmax(axis=1)  # first-max ties = (score desc, cell asc)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)  # int64, exact
                nrm = math.sqrt(sum(int(v) * int(v) for v in m))
                cent[c] = np.floor(
                    (QUANT * m).astype(np.float64) / nrm
                ).astype(np.int64)
    return cent


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k via an inverted-file (IVF) index:
    (q_id, rank, n_id, score).

    The corpus is partitioned into ``n_centroids`` Voronoi cells (one
    Arrow-batched assignment pass; the centroid matrix rides into the
    UDF closure — a few KB, broadcast with the task). Each query scans
    only its ``n_probe`` closest cells, so the exact-rerank join is an
    equi-join on the cell id touching ``n_probe / n_centroids`` of the
    corpus.  Recall rises with ``n_probe`` (= brute force at
    ``n_probe == n_centroids``).  Fully deterministic: hash-ordered
    training sample, fixed iteration count, int64 fixed-point scores.
    """
    from pyspark.sql.functions import pandas_udf

    cent = _train_centroids(corpus, n_centroids, id_col, vec_col)
    n_probe_eff = min(n_probe, len(cent))
    cnorm = _centroid_norms(cent)

    @pandas_udf("int")
    def nearest_cell(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.int64)
        scores = (m @ cent.T).astype(np.float64) / cnorm[None, :]
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    @pandas_udf("array<int>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.int64)
        scores = (m @ cent.T).astype(np.float64) / cnorm[None, :]
        order = np.argsort(-scores, axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe_eff].astype(np.int32)))

    c = (
        ensure_parallelism(corpus).select(
            F.col(id_col).alias("n_id"), _quantized(F.col(vec_col)).alias("cv")
        )
        .withColumn("cell", nearest_cell(F.col("cv")))
        .withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    )
    # boundary: materialize the corpus cell assignment once — the Arrow
    # UDF pass (ArrowEvalPython) otherwise re-runs inside the join stage
    # per probed cell.  At scale this is the persisted IVF *index*
    # (corpus partitioned/bucketed by cell on disk).
    c = _track_cache(c)
    driver_count(c)
    q = (
        queries.select(
            F.col(id_col).alias("q_id"), _quantized(F.col(vec_col)).alias("qv")
        )
        .withColumn("cell", F.explode(probe_cells(F.col("qv"))))
        .withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    )

    pairs = c.join(q, "cell").filter(F.col("n_id") != F.col("q_id"))
    dot = _dot(F.col("cv"), F.col("qv"))
    scored = pairs.select(
        "q_id",
        "n_id",
        (
            dot.cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def _explode_probes(qh: DataFrame, n_tables: int, masks: list) -> DataFrame:
    """(…, bs) → one row per (table, probe mask) with the probed
    ``bucket = bs[tbl] ^ mask`` — TWO small literal-array explodes
    (|tables| + |masks| entries) instead of one |tables|·|masks|
    struct array, which at 4×93 blows janino's method-size limit and
    silently drops the stage out of whole-stage codegen."""
    tbl_arr = F.array(*[F.lit(t) for t in range(n_tables)])
    mask_arr = F.array(*[F.lit(int(m)).cast("long") for m in masks])
    keep = [c for c in qh.columns if c != "bs"]
    return (
        qh.select(*keep, "bs", F.explode(tbl_arr).alias("tbl"))
        .select(
            *keep,
            "tbl",
            F.element_at(F.col("bs"), F.col("tbl") + 1).alias("__b"),
            F.explode(mask_arr).alias("__m"),
        )
        .select(
            *keep,
            "tbl",
            F.col("__b").bitwiseXOR(F.col("__m")).alias("bucket"),
        )
    )


def lsh_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 8,
    probe_radius: int = 3,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
) -> DataFrame:
    """Two-stage LSH retrieval: NARROW candidate generation → exact
    re-rank fetch — the LSH twin of :func:`pq_rerank_topk`:
    ``(q_id, rank, n_id, score)`` with ``score`` the exact cosine.

    Stage 1 joins ONLY ``(table, bucket, id)`` triples — unlike
    :func:`lsh_topk`, the full vector column never enters the bucket
    join's shuffle, so candidate generation costs
    O(ids · tables) shuffled bytes instead of O(vectors · tables).
    That narrowness is what pays for MORE tables at the same budget:
    the default 4 tables × radius-3 probes compound per-table recall
    p as ``1-(1-p)^4`` (measured ≥0.95 at sf0.1 where
    :func:`lsh_topk`'s 2 tables sit at 0.80).  A pair found by several
    tables is collapsed by a ``distinct`` on the candidate ids —
    query-side-bounded (|Q| · bucket occupancy rows), so the dedup
    shuffle never touches corpus scale.

    Stage 2 broadcasts the candidate ids INTO the raw corpus scan (a
    broadcast semi-join fetch) and scores exactly — the full-width
    vectors are decoded for |candidates| rows only.  At 100 TB the
    hashed id/bucket table is the persisted index; the raw table is
    touched per query only where a bucket hit says to look.

    Deterministic end-to-end (fixed hyperplane seeds, integer dots);
    the DuckDB oracle replays both stages."""
    seeds = [lsh_table_seed(t) for t in range(n_tables)]
    masks = probe_masks(n_planes, probe_radius)

    ch = lsh_hash_frame(
        ensure_parallelism(corpus), id_col, vec_col, dim, n_planes, seeds
    )
    qh = lsh_hash_frame(queries, id_col, vec_col, dim, n_planes, seeds)
    ce = ch.select(
        F.col("id").alias("n_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col("bs")[t].alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("e"),
    ).select("n_id", F.col("e.tbl").alias("tbl"), F.col("e.bucket").alias("bucket"))
    # two SMALL explodes (tables, then masks) instead of one
    # tables×masks struct-literal array: 4 tables × 93 radius-3 masks
    # is 372 struct constructions in a single Generate — past janino's
    # method-size limit, killing whole-stage codegen for the stage
    qe = _explode_probes(
        qh.select(F.col("id").alias("q_id"), "bs"), n_tables, masks
    ).select("q_id", "tbl", "bucket")
    cand = ce.join(F.broadcast(qe), ["tbl", "bucket"])
    if exclude_self:
        cand = cand.filter(F.col("n_id") != F.col("q_id"))
    cand = cand.select("q_id", "n_id").distinct()

    raw = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col).alias("n_id"),
            _quantized(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    )
    qraw = queries.select(
        F.col(id_col).alias("q_id"), _quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    fetched = raw.join(F.broadcast(cand), "n_id")
    scored = fetched.join(F.broadcast(qraw), "q_id").select(
        "q_id",
        "n_id",
        (
            _dot(F.col("cv"), F.col("qv")).cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def probe_masks(n_planes: int, radius: int) -> list[int]:
    """All xor masks within hamming distance ``radius`` of a bucket —
    the multi-probe set (deterministic, inlined into the SQL oracle)."""
    masks = [0]
    if radius >= 1:
        masks += [1 << i for i in range(n_planes)]
    if radius >= 2:
        masks += [
            (1 << i) | (1 << j)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    if radius >= 3:
        masks += [
            (1 << i) | (1 << j) | (1 << k)
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
            for k in range(j + 1, n_planes)
        ]
    if radius >= 4:
        # C(n,4)+ fan-out multiplies the probe-side explode; beyond r=3
        # use fewer planes instead (coarser buckets, same coverage)
        raise ValueError("probe_radius > 3 not supported (probe count explodes)")
    return masks


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    dim: int,
    k: int = 5,
    n_planes: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_radius: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket neighborhood, then exact cosine within it.  The corpus is
    hashed once and the join is a bucket equi-join (shuffle on the
    bucket key) — at scale, pair it with bucketed storage so it's
    shuffle-free.

    MULTI-PROBE: a true neighbor at angle θ flips each sign bit with
    probability θ/π, so requiring all ``n_planes`` bits equal collapses
    recall (measured 0.0 on weakly-similar data).  Each query probes
    every bucket within hamming distance ``probe_radius`` of its own
    (``1 + n + n(n-1)/2`` probes at radius 2) — the probe fan-out
    multiplies only the tiny query side, never the corpus.

    MULTI-TABLE (``n_tables > 1``): L independent hyperplane sets
    (distinct splitmix seeds, table 0 = the single-table planes); a
    candidate is found when ANY table's probe hits, so recall compounds
    as ``1-(1-p)^L``.  The corpus side explodes xL — the standard LSH
    storage trade.  A pair matching in several tables is emitted
    exactly once WITHOUT a dedup shuffle: both sides carry their
    per-table bucket arrays, and the join keeps only the first table
    where the pair's buckets are within ``probe_radius`` hamming
    distance (``bit_count`` guard — same emit-once philosophy as the
    binned interval join).

    The probe explode, the candidate id set, and the query vectors are
    BROADCAST (all |Q|-bounded — the corpus is never shuffled); for
    query sets beyond broadcast scale, use the persisted-index path
    (:func:`lsh_rerank_topk_indexed`) or the streaming probe
    (:func:`~..streaming.stream_lsh_probe`), which bound the working
    set per micro-batch."""
    seeds = [lsh_table_seed(t) for t in range(n_tables)]
    masks = probe_masks(n_planes, probe_radius)

    # NARROW candidate generation (round 7 — same restructure that took
    # lsh_rerank_topk to 4 tables at 2-table cost): the bucket join
    # carries only ids + the small per-table bucket arrays, never the
    # vector columns; the exact scoring FETCHES vectors afterwards via
    # broadcast joins of the (query-bounded) candidate set into pure
    # expression-quantized projections (bit-identical to the Arrow
    # hash stage's quantization — documented contract of
    # lsh_hash_frame), so neither side's Arrow pass re-runs and no
    # Exchange ever moves a vector.  At sf0.1 (2k vectors, one Arrow
    # batch) this measures as a wash — the win is the SCALE shape:
    # the xL corpus explode and the bucket shuffle carry ids, not
    # dim-sized arrays.  Output bit-identical (oracle + recall-floor
    # verified).
    c = lsh_hash_frame(
        ensure_parallelism(corpus), id_col, vec_col, dim, n_planes, seeds
    ).select(F.col("id").alias("n_id"), F.col("bs").alias("cbs"))
    q = lsh_hash_frame(queries, id_col, vec_col, dim, n_planes, seeds).select(
        F.col("id").alias("q_id"), F.col("bs").alias("qbs")
    )

    if n_tables == 1:
        c = c.select("n_id", F.col("cbs")[0].alias("bucket"))
        q = q.select(
            "q_id",
            F.explode(
                F.array(*[F.col("qbs")[0].bitwiseXOR(F.lit(m)) for m in masks])
            ).alias("bucket"),
        )
        # a (q, n) pair matches via exactly ONE mask (the mask is the
        # xor of the two buckets), so no dedup is needed
        cand = c.join(F.broadcast(q), "bucket").filter(
            F.col("n_id") != F.col("q_id")
        )
    else:
        c = c.select(
            "n_id", "cbs",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("tbl"), F.col("cbs")[t].alias("bucket")
                        )
                        for t in range(n_tables)
                    ]
                )
            ).alias("tb"),
        ).select(
            "n_id", "cbs",
            F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"),
        )
        q = _explode_probes(
            q.select("q_id", "qbs", F.col("qbs").alias("bs")),
            n_tables,
            masks,
        )
        # first-matching-table guard: drop a table-t match if any
        # earlier table t' already pairs them (hamming <= radius)
        no_earlier = F.lit(True)
        for t in range(1, n_tables):
            hits = [
                F.bit_count(F.col("cbs")[tp].bitwiseXOR(F.col("qbs")[tp]))
                <= F.lit(probe_radius)
                for tp in range(t)
            ]
            any_earlier = hits[0]
            for h in hits[1:]:
                any_earlier = any_earlier | h
            no_earlier = F.when(F.col("tbl") == t, ~any_earlier).otherwise(
                no_earlier
            )
        cand = (
            c.join(F.broadcast(q), ["tbl", "bucket"])
            .filter(F.col("n_id") != F.col("q_id"))
            .filter(no_earlier)
        )
    cand = cand.select("q_id", "n_id")

    raw = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col).alias("n_id"), _quantized(F.col(vec_col)).alias("cv")
        )
        .withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    )
    qraw = queries.select(
        F.col(id_col).alias("q_id"), _quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    fetched = raw.join(F.broadcast(cand), "n_id")
    dot = _dot(F.col("cv"), F.col("qv"))
    scored = fetched.join(F.broadcast(qraw), "q_id").select(
        "q_id",
        "n_id",
        (
            dot.cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exclude_self: bool = True,
    allow_large_queries: bool = False,
) -> DataFrame:
    """Cosine top-k over SCALAR-QUANTIZED (int8-range) vectors — the
    4×-compression ANN path: each dimension is affinely mapped to
    [-127, 127] by its corpus-wide max magnitude, dots run on small
    integers.  Output: ``(q_id, rank, n_id, score)`` like
    :func:`cosine_topk`; scores are the quantized-space cosine, so
    ranking is approximate vs the exact baseline (recall floor
    pytest-asserted).

    Determinism contract: the per-dimension scale is a float MAX
    (order-independent), the quantized value is one mul + one div +
    round in IEEE doubles in a fixed order (``round((x·127)/m)``), and
    the dot/norms are exact bigint sums — a SQL oracle recomputing the
    same three steps matches bit-for-bit.

    Scale design: the per-dimension max is one partial-aggregated pass
    collapsing to ``dim`` rows collected driver-side (the codebook —
    KBs); quantization is a codegen'd projection; the search itself is
    the broadcast-queries pass of :func:`cosine_topk` but moving 1/4
    of the bytes.  At 100 TB the codebook would be computed once and
    persisted with the table, not per query.

    Like :func:`cosine_topk`, refuses query sides above
    :data:`EXACT_QUERY_BROADCAST_ROWS` unless
    ``allow_large_queries=True``."""
    _guard_exact_queries(queries, allow_large_queries, "sq8_topk")
    mx_rows = driver_rows(
        corpus.select(F.posexplode(F.col(vec_col)))
        .groupBy("pos")
        .agg(F.max(F.abs(F.col("col").cast("double"))).alias("m"))
    )
    mx = {r["pos"]: (r["m"] if r["m"] else 0.0) for r in mx_rows}
    scale_arr = F.array(
        *[F.lit(mx[i] if mx[i] > 0 else 1.0) for i in range(len(mx))]
    )

    def qz(col):
        return F.zip_with(
            col,
            scale_arr,
            lambda x, m: F.round(x.cast("double") * F.lit(127.0) / m).cast(
                "long"
            ),
        )

    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("n_id"), qz(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("q_id"), qz(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _dot(F.col("qv"), F.col("qv")))

    pairs = c.join(F.broadcast(q), F.lit(True))
    if exclude_self:
        pairs = pairs.filter(F.col("n_id") != F.col("q_id"))
    dot = _dot(F.col("cv"), F.col("qv"))
    scored = pairs.select(
        "q_id",
        "n_id",
        (
            dot.cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def write_ivf_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Build and PERSIST the IVF index — train centroids, assign every
    corpus vector to its cell, and write:

    - ``<path>/centroids`` — (cell, c array<bigint>) — the codebook;
    - ``<path>/corpus`` — (n_id, cv, cn) PARTITIONED BY cell — the
      quantized vectors + norms laid out so a probe reads only its
      cells' directories.

    :func:`ivf_topk` re-trains and re-assigns per call (fine for one
    shot); this is the index-once/query-many layout — at 100 TB the
    assignment pass runs once and every later query is a pruned scan of
    ``n_probe/n_centroids`` of the data (see :func:`ivf_topk_indexed`)."""
    from pyspark.sql.functions import pandas_udf

    spark = corpus.sparkSession
    cent = _train_centroids(corpus, n_centroids, id_col, vec_col)
    cnorm = _centroid_norms(cent)

    @pandas_udf("int")
    def nearest_cell(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.int64)
        scores = (m @ cent.T).astype(np.float64) / cnorm[None, :]
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    c = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col).alias("n_id"), _quantized(F.col(vec_col)).alias("cv")
        )
        .withColumn("cell", nearest_cell(F.col("cv")))
        .withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    )
    # cluster the write on the partition key: unclustered, every input
    # task writes a file per cell it holds (n_tasks x n_cells tiny
    # files); keyed repartition gives one file per cell (guide §6)
    c.repartition("cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(f"{path}/corpus")
    spark.createDataFrame(
        [(i, [int(v) for v in cent[i]]) for i in range(len(cent))],
        "cell int, c array<bigint>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")


def ivf_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (:func:`write_ivf_index`): identical
    results to :func:`ivf_topk` at the same (n_centroids, n_probe) —
    parity is test-asserted — without re-training or re-assigning.

    The probed cell set is computed from the (small) query side and
    pushed as a STATIC ``cell IN (...)`` partition filter, so the scan
    reads only the probed cells' directories (partition pruning visible
    as PartitionFilters in the plan) — the corpus fraction touched is
    ``|probed cells| / n_centroids`` at any scale."""
    from pyspark.sql.functions import pandas_udf

    crows = driver_rows(
        spark.read.parquet(f"{path}/centroids").orderBy("cell")
    )
    cent = np.array([r["c"] for r in crows], dtype=np.int64)
    cnorm = _centroid_norms(cent)
    n_probe_eff = min(n_probe, len(cent))

    @pandas_udf("array<int>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.int64)
        scores = (m @ cent.T).astype(np.float64) / cnorm[None, :]
        order = np.argsort(-scores, axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe_eff].astype(np.int32)))

    q = (
        queries.select(
            F.col(id_col).alias("q_id"), _quantized(F.col(vec_col)).alias("qv")
        )
        .withColumn("cell", F.explode(probe_cells(F.col("qv"))))
        .withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    )
    q = _track_cache(q)
    probed = [r["cell"] for r in driver_rows(q.select("cell").distinct())]

    c = spark.read.parquet(f"{path}/corpus").filter(
        F.col("cell").isin(probed)
    )
    pairs = c.join(F.broadcast(q), "cell").filter(F.col("n_id") != F.col("q_id"))
    dot = _dot(F.col("cv"), F.col("qv"))
    scored = pairs.select(
        "q_id",
        "n_id",
        (
            dot.cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def write_lsh_index(
    corpus: DataFrame,
    path: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_dirs: bool = False,
) -> None:
    """Build and PERSIST the LSH index for
    :func:`lsh_rerank_topk_indexed` — hash the corpus ONCE and write:

    - ``<path>/buckets`` — (n_id, bucket) PARTITIONED BY tbl and
      RANGE-SORTED on bucket within files, so a probe prunes the tbl
      directory AND skips non-matching row groups via parquet min/max
      footer statistics.  ``bucket_dirs=True`` additionally partitions
      by bucket (one directory per bucket): pays off only when every
      (tbl, bucket) cell holds at least a row group's worth of data —
      at test scale the n_tables·2^n_planes tiny directories are pure
      metadata tax (measured 40s vs 3s for a 2k-vector corpus), so
      directory-per-bucket is the 100 TB opt-in, not the default;
    - ``<path>/raw`` — (n_id, cv, cn): quantized vectors + norms for
      the exact re-rank fetch;
    - ``<path>/meta`` — one row (dim, n_planes, n_tables): the
      hashing parameters, so query time reconstructs the SAME
      deterministic hyperplanes (seeds are a pure function of the
      table number).

    At 100 TB the hash pass runs once at ingest; each query then
    touches the probed buckets' row groups (or directories) plus
    |candidates| rows of raw vectors.  Vectors arriving AFTER the
    build are appended by :func:`append_lsh_index` (the foreachBatch
    maintenance twin); every reader unions those update segments in."""
    spark = corpus.sparkSession
    # a REBUILD is the compaction step: stale update segments must go
    # FIRST — a rebuilt base already contains their vectors, and a
    # leftover segment would union duplicate n_id rows into every
    # reader (duplicate (q_id, n_id) scored pairs can then occupy two
    # top-k slots)
    _drop_update_segments(spark, path)
    bt, raw = _lsh_index_frames(
        corpus, dim, n_planes, n_tables, id_col, vec_col
    )
    if bucket_dirs:
        bt.write.partitionBy("tbl", "bucket").mode("overwrite").parquet(
            f"{path}/buckets"
        )
    else:
        (
            bt.repartition("tbl")
            .sortWithinPartitions("bucket")
            .write.partitionBy("tbl")
            .mode("overwrite")
            .parquet(f"{path}/buckets")
        )
    raw.write.mode("overwrite").parquet(f"{path}/raw")
    spark.createDataFrame(
        [(int(dim), int(n_planes), int(n_tables))],
        "dim int, n_planes int, n_tables int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def _lsh_index_frames(
    corpus: DataFrame,
    dim: int,
    n_planes: int,
    n_tables: int,
    id_col: str,
    vec_col: str,
):
    """(bucket rows, raw rows) of the LSH index layout for ``corpus``
    — shared by the initial :func:`write_lsh_index` build and the
    :func:`append_lsh_index` maintenance path so both hash with the
    SAME deterministic hyperplanes.  ``cbs`` (per-table bucket array)
    rides along in raw for the streaming probe's stateless emit-once
    guard (see streaming.stream_lsh_probe)."""
    seeds = [lsh_table_seed(t) for t in range(n_tables)]
    ch = lsh_hash_frame(
        ensure_parallelism(corpus), id_col, vec_col, dim, n_planes, seeds
    )
    ch = _track_cache(ch)
    bt = ch.select(
        F.col("id").alias("n_id"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"), F.col("bs")[t].alias("bucket")
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("e"),
    ).select(
        "n_id", F.col("e.tbl").alias("tbl"), F.col("e.bucket").alias("bucket")
    )
    raw = ch.select(
        F.col("id").alias("n_id"),
        F.col("v").alias("cv"),
        F.col("nrm").alias("cn"),
        F.col("bs").alias("cbs"),
    )
    return bt, raw


def append_lsh_index(
    batch: DataFrame,
    path: str,
    epoch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Append a batch of NEW vectors to a persisted LSH index
    (:func:`write_lsh_index`) as an UPDATE SEGMENT — the streaming
    maintenance path (probes pick up arrivals between full rebuilds):

    - hashes the batch with the index's OWN meta parameters (same
      deterministic hyperplanes as the base build);
    - writes ``<path>/updates/e{epoch}/buckets`` (partitioned by tbl,
      bucket-sorted within files — the same pruning layout as the
      base) and ``.../raw``;
    - mode OVERWRITE into the epoch-named directory, so a foreachBatch
      REPLAY of the same epoch after a failure rewrites the identical
      segment instead of duplicating rows — exactly-once by
      idempotence, the same contract update_register_index gets from
      version-then-prune (an update here is pure ADDITION, so the
      segment form replaces the merge-rewrite: history is never
      re-read, each append costs O(batch)).

    Readers (:func:`lsh_rerank_topk_indexed`,
    ``streaming.stream_lsh_probe``) union all segments in; their probe
    filters push down into every segment's scan.  ``vec_id``s must be
    new (an id re-sent in a later batch would rank twice) — upstream
    dedup is the ingest contract.  Segments accumulate one directory
    per batch: rebuild with :func:`write_lsh_index` periodically (the
    compaction), which drops ``updates/`` wholesale.

    Usable directly as ``foreachBatch(lambda b, e: append_lsh_index(
    b, path, e))`` — or via ``streaming.maintain_lsh_index``."""
    spark = batch.sparkSession
    meta = driver_row(spark.read.parquet(f"{path}/meta"))
    bt, raw = _lsh_index_frames(
        batch,
        meta["dim"],
        meta["n_planes"],
        meta["n_tables"],
        id_col,
        vec_col,
    )
    seg = f"{path}/updates/e{int(epoch_id):020d}"
    (
        bt.repartition("tbl")
        .sortWithinPartitions("bucket")
        .write.partitionBy("tbl")
        .mode("overwrite")
        .parquet(f"{seg}/buckets")
    )
    raw.write.mode("overwrite").parquet(f"{seg}/raw")
    return seg


def _drop_update_segments(spark, path: str) -> None:
    """Recursively delete ``<path>/updates`` (Hadoop FS, scheme-aware)
    — the compaction half of the append-segment contract shared by the
    LSH and IVF-PQ index sinks."""
    from ..sources.sinks import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, f"{path.rstrip('/')}/updates")
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _lsh_update_segments(spark, path: str) -> list:
    """Sorted update-segment URIs under ``<path>/updates`` via the
    Hadoop FileSystem API (scheme-aware — hdfs://, s3a://...)."""
    from ..sources.sinks import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, f"{path.rstrip('/')}/updates")
    if not fs.exists(jpath):
        return []
    segs = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if name.startswith("e"):
            segs.append((name, st.getPath().toString()))
    return [uri for _, uri in sorted(segs)]


def _read_lsh_tables(spark, path: str):
    """(buckets, raw) of an LSH index INCLUDING update segments.  The
    union is of parquet scans only — filters applied by the caller
    push through the Union into every child scan (partition pruning
    and footer skipping hold per segment)."""
    bt = spark.read.parquet(f"{path}/buckets")
    raw = spark.read.parquet(f"{path}/raw")
    for seg in _lsh_update_segments(spark, path):
        bt = bt.unionByName(spark.read.parquet(f"{seg}/buckets"))
        raw = raw.unionByName(spark.read.parquet(f"{seg}/raw"))
    return bt, raw


def lsh_rerank_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    probe_radius: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted LSH index (:func:`write_lsh_index`):
    identical results to :func:`lsh_rerank_topk` at the same
    parameters (parity test-asserted) without re-hashing the corpus.

    The probe bucket set is computed from the (small) query side and
    pushed as a static ``(tbl, bucket) IN`` partition filter — the
    bucket table scan reads only probed directories.  The probe list
    is bounded by ``min(|Q|·tables·masks, tables·2^n_planes)`` —
    driver-bounded by the bucket space itself, never the corpus."""
    meta = driver_row(spark.read.parquet(f"{path}/meta"))
    dim, n_planes, n_tables = (
        meta["dim"], meta["n_planes"], meta["n_tables"],
    )
    seeds = [lsh_table_seed(t) for t in range(n_tables)]
    masks = probe_masks(n_planes, probe_radius)

    qh = lsh_hash_frame(queries, id_col, vec_col, dim, n_planes, seeds)
    qe = _explode_probes(
        qh.select(
            F.col("id").alias("q_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qn"),
            "bs",
        ),
        n_tables,
        masks,
    )
    qe = _track_cache(qe)
    probed = [
        (r["tbl"], r["bucket"])
        for r in driver_rows(qe.select("tbl", "bucket").distinct())
    ]
    by_tbl: dict = {}
    for t, b in probed:
        by_tbl.setdefault(t, []).append(b)
    if not by_tbl:  # empty query set — no probe buckets, empty result
        # n_id's type comes from the PERSISTED index, not the query
        # frame: if the index was built with a different id type, the
        # empty-result schema must still match the non-empty-run schema
        qt = queries.schema[id_col].dataType.simpleString()
        nt = (
            spark.read.parquet(f"{path}/raw")
            .schema["n_id"]
            .dataType.simpleString()
        )
        return spark.createDataFrame(
            [], schema=f"q_id {qt}, rank int, n_id {nt}, score double"
        )
    probe_filter = None
    for t, bs in by_tbl.items():
        clause = (F.col("tbl") == t) & F.col("bucket").isin(bs)
        probe_filter = clause if probe_filter is None else probe_filter | clause

    bt_all, raw = _read_lsh_tables(spark, path)
    bt = bt_all.filter(probe_filter)
    cand = (
        bt.join(F.broadcast(qe.select("q_id", "tbl", "bucket")), ["tbl", "bucket"])
        .filter(F.col("n_id") != F.col("q_id"))
        .select("q_id", "n_id")
        .distinct()
    )
    fetched = raw.join(F.broadcast(cand), "n_id")
    scored = fetched.join(
        F.broadcast(qe.select("q_id", "qv", "qn").distinct()), "q_id"
    ).select(
        "q_id",
        "n_id",
        (
            _dot(F.col("cv"), F.col("qv")).cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def write_ivfpq_index(
    corpus: DataFrame,
    path: str,
    n_centroids: int = 16,
    m_sub: int = 32,
    ks: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    by_residual: bool = False,
) -> None:
    """Build and PERSIST the IVF-PQ index — the billion-vector layout
    written once, queried many times:

    - ``<path>/codes`` — (n_id, codes array<int>, rn) PARTITIONED BY
      cell: ~``m_sub`` bytes per vector, laid out so a probe reads
      only its cells' directories;
    - ``<path>/centroids`` — the coarse codebook (cell, c);
    - ``<path>/codebooks`` — the PQ codebooks (m, code, cv);
    - ``<path>/meta`` — encoding flags (by_residual), so probes and
      appends reconstruct the exact encoding without a parameter.

    Training is the same exact-integer machinery as
    :func:`ivf_pq_topk` (incl. ``by_residual`` — integer residuals,
    determinism unchanged), so :func:`ivf_pq_topk_indexed` at the same
    parameters returns identical results (test-asserted) without
    re-training or re-encoding.  Rebuilding over a path that has
    accumulated :func:`append_ivfpq_index` segments is the compaction
    step: stale ``updates/`` are dropped first (a leftover segment
    would union duplicate code rows into every probe)."""
    spark = corpus.sparkSession
    _drop_update_segments(spark, path)
    cent = _train_centroids(corpus, n_centroids, id_col, vec_col)
    cb = _train_pq_codebooks(
        corpus, m_sub, ks, id_col, vec_col, dim,
        residual_of=cent if by_residual else None,
    )
    k_eff = cb.shape[1]
    c = _ivfpq_encode_frame(corpus, cent, cb, id_col, vec_col, by_residual)
    # one file per cell, not n_tasks x n_cells (guide §6 — see
    # write_ivf_index)
    c.repartition("cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    spark.createDataFrame(
        [(i, [int(v) for v in cent[i]]) for i in range(len(cent))],
        "cell int, c array<bigint>",
    ).write.mode("overwrite").parquet(f"{path}/centroids")
    spark.createDataFrame(
        [
            (m, j, [int(v) for v in cb[m, j]])
            for m in range(m_sub)
            for j in range(k_eff)
        ],
        "m int, code int, cv array<bigint>",
    ).write.mode("overwrite").parquet(f"{path}/codebooks")
    spark.createDataFrame(
        [(bool(by_residual),)], "by_residual boolean"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def _ivfpq_encode_frame(
    df: DataFrame, cent, cb, id_col: str, vec_col: str,
    by_residual: bool = False,
) -> DataFrame:
    """Encode vectors with FROZEN coarse centroids + PQ codebooks:
    ``(n_id, cell, codes, rn)`` — the shared Arrow-batched kernel of
    :func:`write_ivfpq_index` / :func:`append_ivfpq_index` (persisted)
    and :func:`ivf_pq_topk` (in-memory).  With ``by_residual`` the PQ
    codes quantize ``x − centroid[cell]`` (all int64, determinism
    unchanged) and ``rn`` is the reconstructed norm
    ``‖centroid + r̂‖²`` — the reconstruction the ADC dot must match."""
    from pyspark.sql.functions import pandas_udf

    cnorm = _centroid_norms(cent)
    m_sub, _k_eff, ds = cb.shape
    cbn2 = (cb.astype(np.int64) ** 2).sum(axis=2)

    @pandas_udf("cell int, codes array<int>, rn bigint")
    def index_row(vs: pd.Series) -> pd.DataFrame:
        mat = np.array(vs.tolist(), dtype=np.int64)
        scores = (mat @ cent.T).astype(np.float64) / cnorm[None, :]
        cells = scores.argmax(axis=1).astype(np.int32)
        res = mat - cent[cells] if by_residual else mat
        codes = np.empty((len(mat), m_sub), dtype=np.int32)
        rn = np.zeros(len(mat), dtype=np.int64)
        for m in range(m_sub):
            xs = res[:, m * ds : (m + 1) * ds]
            dist = cbn2[m][None, :] - 2 * (xs @ cb[m].T)
            codes[:, m] = dist.argmin(axis=1)
            if by_residual:
                recon = cent[cells][:, m * ds : (m + 1) * ds] + cb[m][codes[:, m]]
                rn += (recon * recon).sum(axis=1)
            else:
                rn += cbn2[m][codes[:, m]]
        return pd.DataFrame({"cell": cells, "codes": list(codes), "rn": rn})

    return (
        ensure_parallelism(df)
        .select(
            F.col(id_col).alias("n_id"),
            index_row(_quantized(F.col(vec_col))).alias("e"),
        )
        .select(
            "n_id",
            F.col("e.cell").alias("cell"),
            F.col("e.codes").alias("codes"),
            F.col("e.rn").alias("rn"),
        )
    )


def _load_ivfpq_models(spark, path: str):
    """(centroids, codebooks, by_residual) of a persisted IVF-PQ index
    — the frozen models every post-build consumer (probe, append)
    reconstructs identically.  Indexes written before the meta file
    existed read as raw-encoded (by_residual=False)."""
    crows = driver_rows(
        spark.read.parquet(f"{path}/centroids").orderBy("cell")
    )
    cent = np.array([r["c"] for r in crows], dtype=np.int64)
    cbrows = driver_rows(
        spark.read.parquet(f"{path}/codebooks").orderBy("m", "code")
    )
    m_sub = 1 + max(r["m"] for r in cbrows)
    k_eff = len(cbrows) // m_sub
    ds = len(cbrows[0]["cv"])
    cb = np.array([r["cv"] for r in cbrows], dtype=np.int64).reshape(
        m_sub, k_eff, ds
    )
    try:
        by_residual = bool(
            driver_row(spark.read.parquet(f"{path}/meta"))["by_residual"]
        )
    except Exception:  # pre-meta index layout
        by_residual = False
    return cent, cb, by_residual


def append_ivfpq_index(
    batch: DataFrame,
    path: str,
    epoch_id: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """Append a batch of NEW vectors to a persisted IVF-PQ index
    (:func:`write_ivfpq_index`) as an UPDATE SEGMENT — the streaming
    maintenance path, mirroring :func:`append_lsh_index`'s contract:

    - vectors are assigned and PQ-encoded with the index's FROZEN
      models (no retraining — the standard IVF append semantics;
      quantization error drifts as the data distribution drifts, and
      a periodic :func:`write_ivfpq_index` rebuild is the re-train +
      compaction step, which also drops ``updates/`` wholesale);
    - codes land in ``<path>/updates/e{epoch}/codes`` PARTITIONED BY
      cell (the same pruning layout as the base — a probe reads only
      its cells' directories in every segment);
    - mode OVERWRITE into the epoch-named directory: a foreachBatch
      replay rewrites the identical segment — exactly-once by
      idempotence.

    ``vec_id``s must be new (ingest-dedup contract, as for LSH).
    Usable directly as ``foreachBatch(lambda b, e:
    append_ivfpq_index(b, path, e))`` — or via
    ``streaming.maintain_ivfpq_index``."""
    spark = batch.sparkSession
    cent, cb, by_residual = _load_ivfpq_models(spark, path)
    c = _ivfpq_encode_frame(batch, cent, cb, id_col, vec_col, by_residual)
    seg = f"{path}/updates/e{int(epoch_id):020d}"
    c.repartition("cell").write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(f"{seg}/codes")
    return seg


def _read_ivfpq_codes(spark, path: str) -> DataFrame:
    """The codes table of an IVF-PQ index INCLUDING update segments —
    a union of parquet scans only, so the caller's ``cell IN`` filter
    pushes through into partition pruning on every segment."""
    c = spark.read.parquet(f"{path}/codes")
    for seg in _lsh_update_segments(spark, path):
        c = c.unionByName(spark.read.parquet(f"{seg}/codes"))
    return c


def ivf_pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    n_probe: int = 4,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF-PQ index (:func:`write_ivfpq_index`):
    identical results to :func:`ivf_pq_topk` at the same parameters
    (test-asserted) with NO training, encoding, or corpus-vector reads.

    The probed cell set is pushed as a static ``cell IN (...)``
    partition filter — the scan touches only the probed cells'
    directories of the ~``m_sub``-bytes-per-vector codes table, so the
    bytes read per query scale as
    ``(n_probe / n_centroids) · m_sub / (4·dim)`` of a raw-vector
    scan (two orders of magnitude at the defaults)."""
    from pyspark.sql.functions import pandas_udf

    cent, cb, by_residual = _load_ivfpq_models(spark, path)
    cnorm = _centroid_norms(cent)
    n_probe_eff = min(n_probe, len(cent))
    k_eff = cb.shape[1]

    @pandas_udf("array<int>")
    def probe_cells(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.int64)
        scores = (m @ cent.T).astype(np.float64) / cnorm[None, :]
        order = np.argsort(-scores, axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe_eff].astype(np.int32)))

    qprobe = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(probe_cells(_quantized(F.col(vec_col)))).alias("cell"),
        _quantized(F.col(vec_col)).alias("__qv"),
    )
    if by_residual:
        qprobe = _with_centroid_dot(qprobe, cent)
    q = _pq_query_luts(queries, cb, id_col, vec_col).join(
        qprobe.drop("__qv"), "q_id"
    )
    q = _track_cache(q)
    probed = [r["cell"] for r in driver_rows(q.select("cell").distinct())]

    c = _read_ivfpq_codes(spark, path).filter(F.col("cell").isin(probed))
    pairs = c.join(F.broadcast(q), "cell").filter(
        F.col("n_id") != F.col("q_id")
    )
    return _pq_score_topk(pairs, k_eff, k, cell_dot=by_residual)


def _cell_assignments(
    corpus: DataFrame, n_centroids: int, id_col: str, vec_col: str
) -> DataFrame:
    """Deterministic k-means cell assignment, materialized once:
    ``(__id, __v quantized, cell, __n self-dot)`` — the shared blocking
    structure of :func:`semantic_dedup` and :func:`semantic_dup_pairs`.
    Persisted eagerly: every caller reads it from multiple join sides,
    and the Arrow UDF pass must not re-run inside a join stage."""
    from pyspark.sql.functions import pandas_udf

    cent = _train_centroids(corpus, n_centroids, id_col, vec_col)
    cnorm = _centroid_norms(cent)

    @pandas_udf("int")
    def nearest_cell(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.int64)
        scores = (m @ cent.T).astype(np.float64) / cnorm[None, :]
        return pd.Series(scores.argmax(axis=1).astype(np.int32))

    c = (
        ensure_parallelism(corpus)
        .select(F.col(id_col).alias("__id"), _quantized(F.col(vec_col)).alias("__v"))
        .withColumn("cell", nearest_cell(F.col("__v")))
        .withColumn("__n", _dot(F.col("__v"), F.col("__v")))
    )
    c = _track_cache(c)
    driver_count(c)
    return c


def semantic_dup_pairs(
    corpus: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic near-duplicate PAIRS: ``(id_a, id_b)`` with
    ``id_a < id_b``, same k-means cell, cosine >= ``threshold`` — the
    edge list :func:`semantic_dedup` reduces to a keep flag, exposed so
    duplicate CLUSTERS can be built over it (feed
    :func:`~.dedup.connected_components`).  Same blocking structure and
    determinism contract as :func:`semantic_dedup`."""
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    c = _cell_assignments(corpus, n_centroids, id_col, vec_col)
    a = c.select(
        F.col("__id").alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "cell",
    )
    b = c.select(
        F.col("__id").alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "cell",
    )
    score = _dot(F.col("__va"), F.col("__vb")).cast("double") / F.sqrt(
        F.col("__na").cast("double") * F.col("__nb").cast("double")
    )
    # no distinct(): each id lives in exactly one cell, so the cell
    # equi-join structurally emits every pair at most once — a dedup
    # here would be a full extra shuffle of the edge list for nothing
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(score >= F.lit(float(threshold)))
        .select("id_a", "id_b")
    )


def semantic_dedup(
    corpus: DataFrame,
    n_centroids: int = 16,
    threshold: float = 0.85,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Semantic deduplication (SemDeDup-style, Abbas et al. 2023):
    cluster the embedding space with the engine's deterministic
    spherical k-means, then drop every document that has a
    SAME-CLUSTER neighbor with cosine >= ``threshold`` and a lower id
    — near-duplicate *meaning*, not near-duplicate *text* (MinHash
    misses paraphrases; this catches them).

    Output: ``(id_col, cell, kept)`` — one row per corpus document;
    filter ``kept`` to materialize the deduplicated set, or join the
    dropped ids back for an audit trail.

    Scale design: clustering IS the blocking structure — the pair
    search is a self-equi-join on the cell id (bucketed, skew handled
    by AQE), never an all-pairs scan; cross-cluster near-dups are
    deliberately out of scope (the SemDeDup trade).  Cell population
    ~ |corpus| / n_centroids bounds the per-cell fan-out: at real
    scale raise ``n_centroids`` so cells stay executor-sized (the
    k-means cost is one tiny driver loop over a hash-ordered sample
    regardless).  The only Python is the Arrow-batched cell
    assignment; the pairwise score is a codegen'd expression.

    Determinism contract (oracle-replayable): bit-reproducible k-means
    (:func:`_train_centroids`), exact int64 fixed-point dots, and the
    same IEEE convert/multiply/sqrt/divide order as :func:`ivf_topk` —
    a DuckDB replay produces the identical keep set.
    """
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    c = _cell_assignments(corpus, n_centroids, id_col, vec_col)

    a = c.select(
        F.col("__id").alias("__id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
        "cell",
    )
    b = c.select(
        F.col("__id").alias("__id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
        "cell",
    )
    score = _dot(F.col("__va"), F.col("__vb")).cast("double") / F.sqrt(
        F.col("__na").cast("double") * F.col("__nb").cast("double")
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("__id_b") < F.col("__id_a"))
        .filter(score >= F.lit(float(threshold)))
        .select(F.col("__id_a"))
        .distinct()
    )
    return c.join(
        dropped, c["__id"] == dropped["__id_a"], "left"
    ).select(
        F.col("__id").alias(id_col),
        "cell",
        F.col("__id_a").isNull().alias("kept"),
    )


# ---------------------------------------------------------------------------
# dimensionality reduction: deterministic sign random projection
# ---------------------------------------------------------------------------


def random_projection(
    df: DataFrame,
    emb_col: str = "embedding",
    out_dims: int = 8,
    scale: int = 1_000_000,
    out_col: str = "proj",
) -> DataFrame:
    """Johnson–Lindenstrauss sign random projection: append ``out_col``
    = ``array<long>`` of ``out_dims`` components, ``y_j = Σ_i s(i,j)·
    round(x_i·scale)`` with ``s(i,j) ∈ {+1,-1}`` derived from pure
    integer arithmetic (``xor(i·73856093, j·19349663) >> 13 & 1``) — a
    deterministic Achlioptas-style projection any engine replays
    bit-for-bit (the DuckDB oracle mirrors it with a 2-arg list
    lambda).

    The standard pre-ANN scale move: shrink wide embeddings before
    LSH/IVF bucketing so the candidate-generation state is
    ``out_dims/in_dims`` the size while pairwise distances are
    JL-preserved in expectation.  Pure Column expressions — map-only,
    whole-stage codegen, zero Python on the hot path; fixed-point
    bigint sums are exact (|x|≤scale, 64 dims → |y| ≤ 6.4e7 ≪ 2^63).
    """
    if out_dims <= 0:
        raise ValueError(f"out_dims must be positive, got {out_dims}")
    xf = F.transform(
        F.col(emb_col),
        lambda v: F.round(v.cast("double") * scale).cast("long"),
    )
    idx = F.sequence(F.lit(0), F.size(F.col(emb_col)) - 1)

    def _sign(j: int):
        cj = F.lit(int(j) * 19349663)

        def s(i):
            # sequence() yields INT — widen before the multiply (ANSI
            # mode makes int overflow a runtime error, not a wrap)
            h = (i.cast("long") * F.lit(73856093)).bitwiseXOR(cj)
            return F.lit(1) - F.lit(2) * (
                F.shiftright(h, 13).bitwiseAND(F.lit(1))
            )

        return s

    def _dim(j: int):
        sgn = _sign(j)
        terms = F.zip_with(xf, idx, lambda x, i: x * sgn(i))
        agg = F.aggregate(
            terms, F.lit(0).cast("long"), lambda acc, t: acc + t
        )
        # empty embeddings: sequence(0, -1) yields [0, -1] and zip_with
        # null-pads, so the sum would be NULL — the mathematically
        # correct projection of the empty vector is 0 (a NULL embedding
        # column still projects to NULL components, SQL propagation)
        return F.when(F.size(F.col(emb_col)) == 0, F.lit(0)).otherwise(agg)

    return df.withColumn(
        out_col, F.array(*[_dim(j) for j in range(out_dims)])
    )


# ---------------------------------------------------------------------------
# product quantization (PQ / IVF-PQ): the billion-vector compressed scan
# ---------------------------------------------------------------------------

#: Lloyd iterations for the per-subspace PQ codebooks — far fewer than
#: IVF's 10: each subspace problem is low-dimensional and converges in
#: 2-3 iterations (recall@5 measured 0.88-0.96 at 3 iters vs 0.92 at
#: 6), and every iteration is replayed unrolled by the SQL oracle, so
#: iterations are the oracle's dominant cost (~5s each at sf0.01).
PQ_ITERS = 3


def _train_pq_codebooks(
    corpus: DataFrame,
    m_sub: int,
    ks: int,
    id_col: str,
    vec_col: str,
    dim: int,
    residual_of: np.ndarray = None,
) -> np.ndarray:
    """Deterministic per-subspace k-means: ``(m_sub, ks, dim/m_sub)``
    int64 codebooks, bit-reproducible across engines.

    Same sampling scheme as :func:`_train_centroids` (hash-ordered, no
    RNG); init is the first ``ks`` sample subvectors per subspace; then
    :data:`PQ_ITERS` Lloyd iterations under EXACT integer arithmetic:

    - assignment minimizes ``||x - c||²`` via the equivalent integer
      objective ``c·c - 2·x·c`` (the ``x·x`` term is constant per row),
      ties to the lowest code — numpy ``argmin`` first-occurrence ==
      SQL ``ORDER BY dist ASC, code``;
    - update is the per-dimension FLOOR-divided member mean
      (``sum // count`` — numpy floor division; the oracle uses the
      pmod trick since DuckDB ``//`` truncates toward zero);
    - an empty cluster keeps its previous centroid.

    Training state is tiny and driver-side (≤ 256·ks sample rows); the
    corpus is never collected."""
    if dim % m_sub:
        raise ValueError(
            f"pq: dim {dim} is not divisible by m_sub {m_sub}"
        )
    ds = dim // m_sub
    sample_n = 256 * ks
    key = F.pmod(
        F.col("id") * F.lit(SAMPLE_A) + F.lit(SAMPLE_B), F.lit(SAMPLE_M)
    )
    sample = (
        corpus.select(
            F.col(id_col).alias("id"), _quantized(F.col(vec_col)).alias("v")
        )
        .orderBy(key, F.col("id"))
        .limit(sample_n)
    )
    sample = driver_rows(sample)
    if not sample:
        raise ValueError("pq_topk: corpus is empty — nothing to index")
    x = np.array([r["v"] for r in sample], dtype=np.int64)
    if x.shape[1] != dim:
        raise ValueError(
            f"pq: vectors have {x.shape[1]} dims, expected {dim}"
        )
    if residual_of is not None:
        # residual training: subtract each sample row's assigned coarse
        # centroid (argmax cosine, the cell-assignment rule) — still
        # exact int64, so the determinism contract is unchanged
        cent = np.asarray(residual_of, dtype=np.int64)
        cnorm = _centroid_norms(cent)
        scores = (x @ cent.T).astype(np.float64) / cnorm[None, :]
        x = x - cent[scores.argmax(axis=1)]
    return _pq_kmeans(x, m_sub, ks, ds)


def _pq_kmeans(x: np.ndarray, m_sub: int, ks: int, ds: int) -> np.ndarray:
    """The per-subspace Lloyd loop of :func:`_train_pq_codebooks`,
    over an already-sampled (and possibly residualized) matrix."""
    k_eff = min(ks, len(x))
    cbs = []
    for m in range(m_sub):
        xs = x[:, m * ds : (m + 1) * ds]  # (n, ds)
        cent = xs[:k_eff].copy()
        for _ in range(PQ_ITERS):
            # objective: cn - 2*dot, exact int64 (|v| ≤ QUANT,
            # ds·QUANT² ≪ 2^63); argmin first-occurrence = lowest code
            dist = (cent * cent).sum(axis=1)[None, :] - 2 * (xs @ cent.T)
            assign = dist.argmin(axis=1)
            for c in range(k_eff):
                members = xs[assign == c]
                if len(members):
                    cent[c] = members.sum(axis=0) // len(members)
        cbs.append(cent)
    return np.stack(cbs)  # (m_sub, k_eff, ds)


def _pq_encoded_corpus(
    corpus: DataFrame, cb: np.ndarray, id_col: str, vec_col: str
):
    """``(n_id, codes array<int>, rn bigint)`` — per-subspace code
    assignment plus the reconstructed squared norm, one Arrow pass."""
    from pyspark.sql.functions import pandas_udf

    m_sub, k_eff, ds = cb.shape
    cbn2 = (cb.astype(np.int64) ** 2).sum(axis=2)  # (m_sub, k_eff)

    @pandas_udf("codes array<int>, rn bigint")
    def encode(vs: pd.Series) -> pd.DataFrame:
        mat = np.array(vs.tolist(), dtype=np.int64)
        codes = np.empty((len(mat), m_sub), dtype=np.int32)
        rn = np.zeros(len(mat), dtype=np.int64)
        for m in range(m_sub):
            xs = mat[:, m * ds : (m + 1) * ds]
            dist = cbn2[m][None, :] - 2 * (xs @ cb[m].T)
            codes[:, m] = dist.argmin(axis=1)
            rn += cbn2[m][codes[:, m]]
        return pd.DataFrame({"codes": list(codes), "rn": rn})

    return ensure_parallelism(corpus).select(
        F.col(id_col).alias("n_id"),
        encode(_quantized(F.col(vec_col))).alias("e"),
    ).select("n_id", F.col("e.codes").alias("codes"), F.col("e.rn").alias("rn"))


def _pq_query_luts(
    queries: DataFrame, cb: np.ndarray, id_col: str, vec_col: str
):
    """``(q_id, lut array<bigint>, qn bigint)`` — the per-query ADC
    lookup table ``lut[m·ks + j] = q_m · cb[m][j]`` (flat, exact
    int64), one Arrow pass over the (small, broadcastable) query side."""
    from pyspark.sql.functions import pandas_udf

    m_sub, k_eff, ds = cb.shape

    @pandas_udf("lut array<bigint>, qn bigint")
    def lut_of(vs: pd.Series) -> pd.DataFrame:
        mat = np.array(vs.tolist(), dtype=np.int64)
        luts = np.empty((len(mat), m_sub * k_eff), dtype=np.int64)
        for m in range(m_sub):
            qs = mat[:, m * ds : (m + 1) * ds]
            luts[:, m * k_eff : (m + 1) * k_eff] = qs @ cb[m].T
        qn = (mat * mat).sum(axis=1)
        return pd.DataFrame({"lut": list(luts), "qn": qn})

    return queries.select(
        F.col(id_col).alias("q_id"),
        lut_of(_quantized(F.col(vec_col))).alias("e"),
    ).select("q_id", F.col("e.lut").alias("lut"), F.col("e.qn").alias("qn"))


def _pq_score_topk(
    pairs: DataFrame, k_eff: int, k: int, cell_dot: bool = False
) -> DataFrame:
    """ADC score + top-k over joined (codes, rn) × (lut, qn) pairs.

    The reconstructed dot is a pure JVM expression — ``m_sub`` flat-LUT
    lookups summed as exact int64 (``Σ_m lut[m·ks + code_m]``), no
    Python on the per-pair path; score is the reconstructed cosine
    ``recon_dot / sqrt(qn · rn)`` in the same IEEE order the oracle
    runs.  With ``cell_dot`` (residual encoding) the pairs carry a
    ``qc`` column — ``q · centroid[cell]`` — added to the LUT sum:
    ``q·x̂ = q·centroid + q·r̂``."""
    recon_dot = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.size(F.col("codes")) - 1),
            lambda c, m: F.element_at(
                F.col("lut"),
                (m.cast("long") * F.lit(k_eff) + c.cast("long") + 1).cast(
                    "int"
                ),
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    if cell_dot:
        recon_dot = recon_dot + F.col("qc")
    scored = pairs.select(
        "q_id",
        "n_id",
        (
            recon_dot.cast("double")
            / F.sqrt(F.col("qn").cast("double") * F.col("rn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m_sub: int = 32,
    ks: int = 256,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    exclude_self: bool = True,
    allow_large_queries: bool = False,
) -> DataFrame:
    """Product-quantization top-k — the compressed-domain brute scan
    (FAISS ``IndexPQ`` shape): ``(q_id, rank, n_id, score)``.

    Each vector is encoded as ``m_sub`` one-byte codes (per-subspace
    k-means codebooks, :func:`_train_pq_codebooks`), a
    ``dim·4 → m_sub``-byte compression (64 floats → 8 bytes at the
    defaults).  Queries build an ADC lookup table once (``m_sub × ks``
    exact int64 dots) and every corpus row is scored by ``m_sub`` table
    lookups — no full-vector arithmetic on the scan.  Scores are the
    reconstructed cosine, so ranking is approximate (recall floor
    pytest-asserted vs :func:`cosine_topk`).

    At 100 TB the codes table is ~``m_sub`` bytes/vector — the layout
    that keeps a billion-vector index scannable; the scan is still
    O(corpus × queries) (queries broadcast), so the same
    :data:`EXACT_QUERY_BROADCAST_ROWS` guard applies — cell-pruned
    :func:`ivf_pq_topk` is the path for large query sets.

    Fully deterministic (hash-ordered sample, integer training,
    integer LUTs): the DuckDB oracle replays training, encoding, and
    scoring bit-for-bit."""
    _guard_exact_queries(queries, allow_large_queries, "pq_topk")
    cb = _train_pq_codebooks(corpus, m_sub, ks, id_col, vec_col, dim)
    k_eff = cb.shape[1]
    c = _pq_encoded_corpus(corpus, cb, id_col, vec_col)
    q = _pq_query_luts(queries, cb, id_col, vec_col)
    pairs = c.join(F.broadcast(q), F.lit(True))
    if exclude_self:
        pairs = pairs.filter(F.col("n_id") != F.col("q_id"))
    return _pq_score_topk(pairs, k_eff, k)


def pq_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    m_sub: int = 32,
    ks: int = 256,
    k: int = 5,
    shortlist: int = 20,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    exclude_self: bool = True,
    allow_large_queries: bool = False,
) -> DataFrame:
    """Two-stage retrieval: PQ ADC SHORTLIST → EXACT re-rank — the
    production ANN serving shape (FAISS refine / ``IndexRefineFlat``):
    ``(q_id, rank, n_id, score)`` where ``score`` is the EXACT cosine,
    not the reconstructed one.

    Stage 1 scans only the ``m_sub``-byte codes table and keeps each
    query's ``shortlist`` best ADC candidates (ties by neighbor id);
    stage 2 fetches raw vectors for ONLY those ``queries × shortlist``
    ids — a broadcast semi-join against the corpus, so the full-width
    vector column is decoded for a vanishing fraction of rows (at
    100 TB: the codes scan is ~``m_sub/(4·dim)`` of the raw bytes and
    the re-rank touches ``|Q|·shortlist`` rows, i.e. the expensive
    exactness is paid only where it changes the ranking).  Recall
    strictly dominates :func:`pq_topk` at the same k: the top-k is
    re-ordered by true scores, so any true neighbor reaching the
    shortlist is ranked exactly (``shortlist == |corpus|`` equals
    :func:`cosine_topk` exactly, property-tested).

    Deterministic end-to-end: integer training/encoding/LUTs (stage 1)
    and integer dots (stage 2); the DuckDB oracle replays both stages
    bit-for-bit."""
    if shortlist < k:
        raise ValueError(f"shortlist ({shortlist}) must be >= k ({k})")
    _guard_exact_queries(queries, allow_large_queries, "pq_rerank_topk")
    cb = _train_pq_codebooks(corpus, m_sub, ks, id_col, vec_col, dim)
    k_eff = cb.shape[1]
    c = _pq_encoded_corpus(corpus, cb, id_col, vec_col)
    q = _pq_query_luts(queries, cb, id_col, vec_col)
    pairs = c.join(F.broadcast(q), F.lit(True))
    if exclude_self:
        pairs = pairs.filter(F.col("n_id") != F.col("q_id"))
    cand = _pq_score_topk(pairs, k_eff, shortlist).select("q_id", "n_id")

    raw = (
        ensure_parallelism(corpus)
        .select(
            F.col(id_col).alias("n_id"),
            _quantized(F.col(vec_col)).alias("cv"),
        )
        .withColumn("cn", _dot(F.col("cv"), F.col("cv")))
    )
    qraw = queries.select(
        F.col(id_col).alias("q_id"), _quantized(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _dot(F.col("qv"), F.col("qv")))
    # candidates (|Q|·shortlist rows) broadcast INTO the corpus scan —
    # the corpus is never shuffled for the re-rank
    fetched = raw.join(F.broadcast(cand), "n_id")
    scored = fetched.join(F.broadcast(qraw), "q_id").select(
        "q_id",
        "n_id",
        (
            _dot(F.col("cv"), F.col("qv")).cast("double")
            / F.sqrt(F.col("cn").cast("double") * F.col("qn").cast("double"))
        ).alias("score"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("score").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", "rank", "n_id", F.round("score", 6).alias("score"))
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    n_centroids: int = 16,
    n_probe: int = 4,
    m_sub: int = 32,
    ks: int = 256,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    by_residual: bool = False,
) -> DataFrame:
    """IVF-PQ: coarse Voronoi cells prune the scan, PQ codes compress
    it — the standard billion-vector ANN layout (FAISS
    ``IndexIVFPQ``): ``(q_id, rank, n_id, score)``.

    The corpus is assigned to ``n_centroids`` cells
    (:func:`_train_centroids`, one Arrow pass) and PQ-encoded
    (:func:`_ivfpq_encode_frame`, the kernel shared with the persisted
    index).  By default codes quantize the RAW vectors; with
    ``by_residual=True`` they quantize ``x − centroid[cell]`` (FAISS's
    default, better recall at the same code size) — the residual is
    int64-exact since the coarse centroids are themselves integer, so
    the determinism contract is UNCHANGED; scoring adds the per-(query,
    cell) ``q·centroid`` term to the ADC sum via a broadcast join
    against the n_centroids-row centroid table.  A query probes its
    ``n_probe`` closest cells and ADC-scores only those codes: the
    candidate join is a cell equi-join touching
    ``n_probe / n_centroids`` of the codes table.  At
    ``n_probe == n_centroids``, raw encoding equals :func:`pq_topk`
    exactly, and residual encoding + exact re-rank recovers the exact
    top-k (both property-tested)."""
    from pyspark.sql.functions import pandas_udf

    cent = _train_centroids(corpus, n_centroids, id_col, vec_col)
    n_probe_eff = min(n_probe, len(cent))
    cnorm = _centroid_norms(cent)
    cb = _train_pq_codebooks(
        corpus, m_sub, ks, id_col, vec_col, dim,
        residual_of=cent if by_residual else None,
    )
    k_eff = cb.shape[1]

    @pandas_udf("array<int>")
    def probe_cells_udf(vs: pd.Series) -> pd.Series:
        m = np.array(vs.tolist(), dtype=np.int64)
        scores = (m @ cent.T).astype(np.float64) / cnorm[None, :]
        order = np.argsort(-scores, axis=1, kind="stable")
        return pd.Series(list(order[:, :n_probe_eff].astype(np.int32)))

    # ONE Arrow pass builds the whole per-row index entry (cell + codes
    # + reconstructed norm) — a second scan or an id-join between
    # separate cell/code passes would shuffle the corpus for nothing
    c = _ivfpq_encode_frame(corpus, cent, cb, id_col, vec_col, by_residual)
    # boundary: materialize the codes+cells once (this IS the persisted
    # IVF-PQ index; on disk it would be the codes table partitioned by
    # cell — see write_ivfpq_index for the layout)
    c = _track_cache(c)
    driver_count(c)
    qprobe = queries.select(
        F.col(id_col).alias("q_id"),
        F.explode(probe_cells_udf(_quantized(F.col(vec_col)))).alias("cell"),
        _quantized(F.col(vec_col)).alias("__qv"),
    )
    if by_residual:
        qprobe = _with_centroid_dot(qprobe, cent)
    q = _pq_query_luts(queries, cb, id_col, vec_col).join(
        qprobe.drop("__qv"), "q_id"
    )
    pairs = c.join(q, "cell").filter(F.col("n_id") != F.col("q_id"))
    return _pq_score_topk(pairs, k_eff, k, cell_dot=by_residual)


def _with_centroid_dot(qprobe: DataFrame, cent) -> DataFrame:
    """Add ``qc = q · centroid[cell]`` to an exploded (q_id, cell,
    __qv) probe frame via a broadcast join against the
    n_centroids-row centroid table — the residual path's per-(query,
    cell) ADC offset, all JVM-side."""
    spark = qprobe.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [int(v) for v in cent[i]]) for i in range(len(cent))],
        "cell int, __c array<bigint>",
    )
    return (
        qprobe.join(F.broadcast(cent_df), "cell")
        .withColumn("qc", _dot(F.col("__qv"), F.col("__c")))
        .drop("__c")
    )
