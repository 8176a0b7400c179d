"""DuckDB fingerprints of the same ops over the same generated files.

A fingerprint is small and exact: per group, the row count, the count
of matched right-side keys and the sum of intersection durations (ns).
The benchmark computes the same tuple from each Spark op's result, so
an op is correct when the two tuples are equal.
"""

from __future__ import annotations

import duckdb

# [) overlap of two spans, and the duration of their intersection (NULL
# on an outer join's padded rows: DuckDB's least/greatest skip NULLs)
_OVERLAP = "greatest({a}.s, {b}.s) < least({a}.e, {b}.e)"
_DUR = (
    "CASE WHEN {a}.s IS NOT NULL AND {b}.s IS NOT NULL "
    "THEN least({a}.e, {b}.e) - greatest({a}.s, {b}.s) END"
)
_JOIN = {
    "inner": "JOIN",
    "keepleft": "LEFT JOIN",
    "keepright": "RIGHT JOIN",
    "full": "FULL JOIN",
}


def window_bounds(lo: int, hi: int, n: int) -> list[tuple[int, int, int]]:
    """``(label, start, stop)`` of the n equal-width windows tiling
    ``[lo, hi)``: boundary i is ``lo + (i * (hi - lo)) // n``."""
    b = [lo + (i * (hi - lo)) // n for i in range(n + 1)]
    return [(i + 1, b[i], b[i + 1]) for i in range(n)]


def normalize(rows) -> tuple:
    """Order-insensitive, type-normalized fingerprint rows."""
    out = []
    for r in rows:
        out.append(tuple(None if v is None else (int(v) if not isinstance(v, str) else v) for v in r))
    return tuple(sorted(out, key=repr))


class Oracle:
    def __init__(self, threads: int):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {max(1, threads)}")
        self.con.execute("SET memory_limit = '2GB'")
        self._cache: dict = {}

    def close(self) -> None:
        self.con.close()

    # -- windows_join -------------------------------------------------------
    def load_events(self, events_path: str) -> None:
        """``event_spans``: per user, ``[ts, next ts)`` in epoch ns."""
        self.con.execute(
            f"""
            CREATE OR REPLACE TABLE es AS
            SELECT event_id, event_type, ts AS s, nts AS e FROM (
              SELECT event_id, event_type, epoch_ns(ts) AS ts,
                     lead(epoch_ns(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS nts
              FROM read_parquet('{events_path}'))
            WHERE nts IS NOT NULL
            """
        )
        lo, hi = self.con.execute("SELECT min(s), max(e) FROM es").fetchone()
        self.event_cover = (int(lo), int(hi))

    def _windows(self, n: int) -> None:
        self.con.execute("CREATE OR REPLACE TABLE win (w BIGINT, s BIGINT, e BIGINT)")
        self.con.executemany(
            "INSERT INTO win VALUES (?, ?, ?)", window_bounds(*self.event_cover, n)
        )

    def windows_op(self, flavour: str, n: int) -> tuple:
        key = ("windows", flavour, n)
        if key not in self._cache:
            self._windows(n)
            dur = _DUR.format(a="es", b="win")
            on = _OVERLAP.format(a="es", b="win")
            if flavour == "groupby":
                sql = (
                    f"SELECT win.w, es.event_type, count(*), "
                    f"sum(({dur})::HUGEINT) FROM es JOIN win ON {on} "
                    "GROUP BY ALL"
                )
            else:
                sql = (
                    f"SELECT win.w, count(*), count(es.event_id), "
                    f"sum(({dur})::HUGEINT) FROM es {_JOIN[flavour]} win "
                    f"ON {on} GROUP BY ALL"
                )
            self._cache[key] = normalize(self.con.execute(sql).fetchall())
        return self._cache[key]

    # -- binned_rw ----------------------------------------------------------
    def load_spans(self, a_path: str, b_path: str) -> None:
        self.con.execute(
            f"CREATE OR REPLACE TABLE ta AS SELECT a_id, a_g, start AS s, "
            f"stop AS e FROM read_parquet('{a_path}')"
        )
        self.con.execute(
            f"CREATE OR REPLACE TABLE tb AS SELECT b_id, b_g, start AS s, "
            f"stop AS e FROM read_parquet('{b_path}')"
        )

    def spans_op(self, flavour: str) -> tuple:
        key = ("spans", flavour)
        if key not in self._cache:
            dur = _DUR.format(a="ta", b="tb")
            # the generated spans all have positive width, where the [)
            # overlap is exactly this pair of inequalities (an IEJoin)
            on = "ta.s < tb.e AND tb.s < ta.e"
            sql = (
                f"SELECT ta.a_g, count(*), count(tb.b_id), "
                f"sum(({dur})::HUGEINT) FROM ta {_JOIN[flavour]} tb ON {on} "
                "GROUP BY ALL"
            )
            self._cache[key] = normalize(self.con.execute(sql).fetchall())
        return self._cache[key]

    def binned_rows(self, width: int) -> int:
        """Rows ``write_binned_spans`` emits for both tables at this
        width under ``[)``: bins ``floor(s/W) .. floor((e-1)/W)``."""
        key = ("bins", width)
        if key not in self._cache:
            q = " + ".join(
                f"(SELECT sum((e - 1) // {width} - s // {width} + 1) FROM {t})"
                for t in ("ta", "tb")
            )
            self._cache[key] = int(self.con.execute(f"SELECT {q}").fetchone()[0])
        return self._cache[key]
