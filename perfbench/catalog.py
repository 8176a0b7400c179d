"""The round-1 catalog entries the generated tables can feed.

``queries.QUERIES`` maps each entry to ``(fn(spark, sf_dir), oracle
SQL)``.  Of the 31 round-1 entries, 14 read only ``events``, ``orders``
(or ``lineitem``, which is not generated).  The ones below run once per
traced ``windows_join`` run, each under its own job group, and are
compared with their oracle SQL on DuckDB over the same files (rows as
an order-insensitive multiset of canonical strings).  Left out are the
five that repeat a ``windows_join`` op at a fixed n
(``q_interval_join_inner/keepleft/keepright/full/closed``): collecting
their 100k+ rows would double a traced run's time for no new layer.
"""

from __future__ import annotations

import time
from collections import Counter

ENTRIES = (
    "q_quantile_windows",
    "q_dfspan",
    "q_interval_join_binned",
    "q_groupby_interval_join_agg",
    "q_orders_interval_join",
    "q_asof_join",
    "q_sessionize",
    "q_stream_sessionize",
)


def _canon(rows, columns) -> Counter:
    order = sorted(range(len(columns)), key=lambda i: columns[i])

    def canon(v):
        if v is None:
            return "~null~"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    return Counter(tuple(canon(r[i]) for i in order) for r in rows)


def run_catalog(spark, con, sf_dir: str) -> tuple[dict, list]:
    """Returns ``({entry: {"s", "jobs"}}, [failed entry messages])``."""
    from dataframeintervals_jl_spark import release_join_caches
    from dataframeintervals_jl_spark.queries import QUERIES

    for t in ("events", "orders"):
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    sc = spark.sparkContext
    out: dict = {}
    failed: list = []
    for name in ENTRIES:
        fn, sql = QUERIES[name]
        group = f"catalog-{name}"
        sc.setJobGroup(group, name)
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            rows = df.collect()
            secs = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 - a failing entry is reported, not fatal
            failed.append(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            continue
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        out[name] = {
            "s": secs,
            "jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
        }
        d = con.execute(sql)
        d_cols = [c[0] for c in d.description]
        if _canon(rows, df.columns) != _canon(d.fetchall(), d_cols):
            failed.append(f"{name}: differs from its oracle")
        release_join_caches()
        spark.catalog.clearCache()
    return out, failed
