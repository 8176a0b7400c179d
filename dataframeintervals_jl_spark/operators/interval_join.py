"""Interval overlap join — the engine's flagship operator.

Parity target: ``interval_join`` in the reference
(/root/reference/src/DataFrameIntervals.jl:97-180 — docstring, rename
protocol ``setup_column_names!`` at src:67-95, materialization
``join_indices`` at src:157-180).  Semantics reproduced:

- one output row per (left, right) pair whose ``on`` intervals overlap
  (``!isdisjoint``; for closed-open spans: strict ``l.start < r.stop AND
  r.start < l.stop`` — touching windows do NOT match);
- both sides' ``on`` columns are renamed (default suffixes ``_left`` /
  ``_right``); a NEW column named after the left input's ``on`` name
  holds the pairwise intersection and is appended LAST;
- ``keepleft`` / ``keepright`` map to left/right/full outer behavior
  with null padding (reference src:163-179);
- duplicate payload names error unless ``makeunique=True`` (then the
  later occurrence gets ``_1``, ``_2``, …);
- nulls in either ``on`` column raise (reference src:136-141) unless
  ``validate='skip'``.

Spark-first execution instead of the reference's sort/sweep kernel:

- broadcast strategies: a declarative theta-join, which Catalyst plans as
  a BroadcastNestedLoopJoin — optimal when one side is small (the
  quantile-windows case);
- the binned rewrite for large×large joins: an equi-join on overlapping
  fixed-width bins + residual overlap predicate + emit-once guard.  It
  shuffles on the bin key, so it scales horizontally on a cluster where
  a nested-loop join cannot.

Every entry point shares one endpoint gate (:func:`_span_kinds`) and
one binned kernel: :func:`_explode_bins` (drop empty spans, one row per
touched bin), :func:`_bin_match` (bin equality, residual overlap,
emit-once guard) and :func:`_stamp_ids` (persisted ids for outer
recovery).  Global :func:`interval_join` (``auto``: one broadcast rule,
:func:`_may_broadcast`, over plan-estimated then counted rows) and keyed
:func:`interval_join_by` (key equalities added to the match) bin through
:func:`_binned_join`; :func:`interval_semi_join` /
:func:`interval_anti_join` explode + match and keep distinct left ids;
:func:`interval_join_prebinned` reads tables already exploded by
``write_binned_spans`` and runs only :func:`_bin_match`.
"""

from __future__ import annotations

from typing import Callable, Optional, Tuple, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..session import driver_count, driver_row
from ..functions.spans import (
    SPAN_TYPE,
    BOUNDS,
    exact_floor_div as _floor_div,
    normalize_bounds,
    normalize_span_field_order,
    span_endpoint_domain,
    span_endpoints_integral,
    span_endpoints_orderable_only,
    span_from_ordinal,
    span_intersect,
    span_to_ordinal,
    spans_overlap,
    validate_span_type,
)

Renamer = Union[None, str, Callable[[str], str]]

LEFT_IDX = "_left_idx"
RIGHT_IDX = "_right_idx"
_BIN = "__dfi_bin"
# row ids the binned paths stamp for outer recovery and semi/anti; private
# names, so a payload or ``with_indices`` column is never taken for them
_LID = "__dfi_lid"
_RID = "__dfi_rid"


def _apply_rename(name: str, how: Renamer) -> str:
    if how is None:
        return name
    if callable(how):
        return str(how(name))
    return f"{name}{how}"


def _as_pair(value, default=None):
    """Unpack an argument that may be a single value or a (left, right) pair.

    Mirrors ``forleft``/``forright`` Pair unpacking (reference src:62-65).
    """
    if value is None:
        value = default
    if isinstance(value, tuple) and len(value) == 2:
        return value
    return (value, value)


def _resolve_on(on) -> Tuple[str, str]:
    if isinstance(on, str):
        return on, on
    if isinstance(on, tuple) and len(on) == 2 and all(isinstance(x, str) for x in on):
        return on
    raise ValueError(
        "Interval joins support only one `on` column (a name or a "
        "(left_name, right_name) pair); iterables are not allowed."
    )


def _adapt_endpoint_domains(left, right, on):
    """Generic-ordered-endpoint support (reference parity src:31-46):
    when the ``on`` span structs carry date/timestamp endpoints, cast
    each side to its exact integer ordinal (days / epoch-µs) so the
    whole engine — overlap predicates, binned rewrite, outer recovery —
    runs on the canonical integral path, then the caller restores the
    user's domain on the output span columns via the returned
    ``(left_domain, right_domain)``.

    Date may not mix with timestamp (no common ordinal unit — a day is
    not a µs count); timestamp and timestamp_ntz MAY mix (both become
    epoch-µs under the UTC-pinned session).  A domain side may NOT mix
    with a plain numeric side: reinterpreting canonical epoch-ns spans
    as day/epoch-µs ordinals silently produces unit garbage, so the mix
    is rejected — same policy as ``span_difference`` and ``asof_join``.
    (``point_in_span_join``, the one internal caller that legitimately
    encodes ordinals into a numeric side, converts BOTH sides to
    ordinals itself before delegating here.)  ``(None, None)`` means
    numeric spans — the no-op fast path."""
    lon, ron = _resolve_on(on)
    # reversed-field-order structs normalize to canonical (start, stop)
    # first — reference parity src:38 (NamedTuples in both orders)
    left = normalize_span_field_order(left, lon)
    right = normalize_span_field_order(right, ron)
    dl = (
        span_endpoint_domain(left.schema[lon].dataType)
        if lon in left.columns
        else None
    )
    dr = (
        span_endpoint_domain(right.schema[ron].dataType)
        if ron in right.columns
        else None
    )
    if dl is None and dr is None:
        return left, right, (None, None)
    if (dl is None) != (dr is None):
        raise ValueError(
            f"cannot join {dl or 'numeric'}-endpoint spans against "
            f"{dr or 'numeric'}-endpoint spans: a plain numeric side would "
            "be reinterpreted as day/epoch-µs ordinals (unit garbage). "
            "Cast one side first (span_to_ordinal / span_from_ordinal)."
        )
    if (dl == "date") != (dr == "date"):
        raise ValueError(
            f"cannot join date-endpoint spans against {dr if dl == 'date' else dl}"
            "-endpoint spans: no common ordinal unit. Cast one side first "
            "(span_to_ordinal / make_span)."
        )
    if dl is not None:
        left = left.withColumn(lon, span_to_ordinal(F.col(lon), dl))
    if dr is not None:
        right = right.withColumn(ron, span_to_ordinal(F.col(ron), dr))
    return left, right, (dl, dr)


def _restore_endpoint_domains(out, sides, domains):
    dl, dr = domains
    if dl is None and dr is None:
        return out
    cols = []
    for c in out.columns:
        if c == sides.left_on and dl is not None:
            cols.append(span_from_ordinal(F.col(c), dl).alias(c))
        elif c == sides.right_on and dr is not None:
            cols.append(span_from_ordinal(F.col(c), dr).alias(c))
        elif c == sides.joined_on:
            # the intersection inherits the LEFT side's domain (falls
            # back to right when only the right side was adapted)
            cols.append(span_from_ordinal(F.col(c), dl or dr).alias(c))
        else:
            cols.append(F.col(c))
    return out.select(*cols)


class _Sides:
    """Result of the rename protocol: both inputs re-projected with final
    column names, plus the bookkeeping names the join needs."""

    __slots__ = (
        "left",
        "right",
        "left_on",
        "right_on",
        "joined_on",
        "left_cols",
        "right_cols",
        "rename_left",
        "rename_right",
    )


def setup_column_names(
    left: DataFrame,
    right: DataFrame,
    on,
    renamecols=None,
    renameon=("_left", "_right"),
    makeunique: bool = False,
    with_indices: bool = False,
) -> _Sides:
    """The rename protocol (parity: reference src:67-95, src:152-156).

    Payload columns get ``renamecols`` (suffix str or callable per side),
    ``on`` columns get ``renameon``; the final left/right on-names must
    not equal the output (joined) on-name; duplicate final names across
    sides error unless ``makeunique`` (→ ``_1`` suffixing, reference
    src:113-115,177).
    """
    left_on_in, right_on_in = _resolve_on(on)
    ren_l, ren_r = _as_pair(renamecols)
    ron_l, ron_r = _as_pair(renameon, default=("_left", "_right"))

    if left_on_in not in left.columns:
        raise ValueError(f"`on` column {left_on_in!r} not found in left table")
    if right_on_in not in right.columns:
        raise ValueError(f"`on` column {right_on_in!r} not found in right table")

    joined_on = left_on_in
    left_on = _apply_rename(left_on_in, ron_l)
    right_on = _apply_rename(right_on_in, ron_r)
    if left_on == joined_on:
        raise ValueError(
            f"Interval join failed: left dataframe's `on` column has the final "
            f"name `{left_on}` which clashes with joined dataframe's `on` column "
            f"name `{joined_on}`. Make sure `renameon` is set properly."
        )
    if right_on == joined_on:
        raise ValueError(
            f"Interval join failed: right dataframe's `on` column has the final "
            f"name `{right_on}` which clashes with joined dataframe's `on` column "
            f"name `{joined_on}`. Make sure `renameon` is set properly."
        )

    rename_left = {
        c: (left_on if c == left_on_in else _apply_rename(c, ren_l))
        for c in left.columns
    }
    rename_right = {
        c: (right_on if c == right_on_in else _apply_rename(c, ren_r))
        for c in right.columns
    }

    # Clash resolution across the concatenated (left ++ right) name list,
    # in output order — later duplicates get _1, _2, ... when makeunique.
    final_left = [rename_left[c] for c in left.columns]
    final_right = [rename_right[c] for c in right.columns]
    seen: dict[str, int] = {}
    out_left: list[str] = []
    out_right: list[str] = []
    for names_in, names_out in ((final_left, out_left), (final_right, out_right)):
        for n in names_in:
            if n in seen:
                if not makeunique:
                    raise ValueError(
                        f"Duplicate column name {n!r} in interval join output; "
                        f"pass makeunique=True to deduplicate (suffixes _1, _2, ...)"
                    )
                seen[n] += 1
                unique = f"{n}_{seen[n]}"
                while unique in seen:
                    seen[n] += 1
                    unique = f"{n}_{seen[n]}"
                seen[unique] = 0
                names_out.append(unique)
            else:
                seen[n] = 0
                names_out.append(n)

    sides = _Sides()
    # re-alias on-column positions too (on stays at its original position)
    lsel = [F.col(c).alias(a) for c, a in zip(left.columns, out_left)]
    rsel = [F.col(c).alias(a) for c, a in zip(right.columns, out_right)]
    if with_indices:
        lsel.append(F.monotonically_increasing_id().alias(LEFT_IDX))
        rsel.append(F.monotonically_increasing_id().alias(RIGHT_IDX))
        out_left = out_left + [LEFT_IDX]
        out_right = out_right + [RIGHT_IDX]
    sides.left = left.select(*lsel)
    sides.right = right.select(*rsel)
    sides.left_on = out_left[left.columns.index(left_on_in)]
    sides.right_on = out_right[right.columns.index(right_on_in)]
    sides.joined_on = joined_on
    sides.left_cols = out_left
    sides.right_cols = out_right
    sides.rename_left = rename_left
    sides.rename_right = rename_right
    return sides


class _SideStats:
    """Per-side statistics driving validation + strategy selection, all
    from ONE tiny agg action per side (partial-aggregated map-side, so
    the action is a scan + O(partitions) reduce at any scale)."""

    __slots__ = ("n", "nulls", "dur", "lo", "hi", "kdist")

    def __init__(self, df: DataFrame, on_name: str, key_cols=None, arithmetic=True):
        # arithmetic=False: orderable-only endpoints (strings) — the
        # duration/range aggregates would be ANSI type errors; only the
        # count/null stats (strategy + validation) are computed
        c = F.col(on_name)
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.sum(c.isNull().cast("long")).alias("nulls"),
        ]
        if arithmetic:
            aggs += [
                F.avg(c.getField("stop") - c.getField("start")).alias("d"),
                F.min(c.getField("start")).alias("lo"),
                F.max(c.getField("stop")).alias("hi"),
            ]
        if key_cols:
            # keyed joins: distinct-key estimate rides the SAME single
            # agg action (HLL sketch, map-side partial) — it feeds the
            # sqrt(K) bin-width widening in _estimate_bin_width
            aggs.append(
                F.approx_count_distinct(
                    F.struct(*[F.col(k) for k in key_cols])
                ).alias("kd")
            )
        # one scheduler round-trip (AQE would run 3 jobs for this
        # 1-row two-stage agg — see session.driver_row)
        row = driver_row(df.agg(*aggs))
        self.n = row["n"] or 0
        self.nulls = row["nulls"] or 0
        self.dur = (
            float(row["d"])
            if arithmetic and row["d"] is not None
            else 1.0
        )
        self.lo = row["lo"] if arithmetic else None
        self.hi = row["hi"] if arithmetic else None
        self.kdist = (row["kd"] or 1) if key_cols else 1


_NULL_MSG = "There are missing values in the {side} table of `interval_join`."


def _with_fused_null_check(df: DataFrame, on_name: str, side: str) -> DataFrame:
    """Fold the null validation INTO the span column itself: any use of
    the column (join predicate, binning, intersection) raises the
    reference's error on the first null row encountered, with NO
    separate validation scan.  ``assert_true`` returns null on success,
    so the wrapper is semantically the identity for valid rows."""
    c = F.col(on_name)
    checked = F.when(
        F.assert_true(c.isNotNull(), F.lit(_NULL_MSG.format(side=side))).isNull(),
        c,
    ).alias(on_name)
    return df.select(
        *[checked if name == on_name else F.col(name) for name in df.columns]
    )


#: `strategy='auto'`: a side with at most this many rows is broadcast;
#: two large sides go through the binned rewrite (a BroadcastNestedLoop
#: over two large inputs is O(n·m) — the 100k x 100k case measured 300x
#: slower than binned at sf0.1, and unboundedly worse beyond).
AUTO_BROADCAST_ROWS = 100_000

#: The PAIR-WORK guard on auto broadcast (round 8): an overlap join's
#: broadcast plan is a BroadcastNestedLoopJoin evaluating every
#: n_small·n_large pair, so row counts alone mispick badly — a 98k x
#: 100k SELECTIVE join (tiny output) measured 70s broadcast vs 4s
#: binned at sf0.1 (1e10 pair evaluations at ~1.4e8/s).  Auto therefore
#: broadcasts a non-tiny side only when the cross-pair count stays
#: under this budget; above it the binned rewrite wins regardless of
#: how comfortably the small side fits in memory.
AUTO_BNL_PAIR_BUDGET = 250_000_000

#: Sides at or below this many rows broadcast UNCONDITIONALLY (windows
#: tilings, dimension tables): the BNLJ pair work is then bounded by
#: tiny·n_large, the same order as the binned path's explode output,
#: without its second shuffle.
BROADCAST_TINY_ROWS = 4_096

#: Zero-execution fast path for `auto`: if Catalyst's optimized-plan
#: statistics (derived from parquet file sizes — no job runs) say a side
#: is at most this many bytes, broadcast it without scanning anything.
#: Kept deliberately small: BNLJ cost is O(rows_small) per probe row, so
#: only sides that are certainly tiny (a windows table, a dimension) may
#: skip the row-count check.  Larger-but-unknown sides fall back to the
#: counted stats — at 100 TB that costs one extra scan, which is why the
#: fast path exists for the overwhelmingly common small-side case.
AUTO_BROADCAST_BYTES = 4 << 20

#: File-source size estimates are compressed on-disk bytes; a 4 MiB
#: RLE/dictionary parquet side can decode to millions of rows.  The fast
#: path therefore ALSO bounds estimated rows via a conservative minimum
#: row width (a bare span struct is 16 bytes), so a side only skips the
#: counted-stats check when even the most pessimistic decode stays under
#: AUTO_BROADCAST_ROWS.
MIN_ROW_BYTES = 16


def _plan_size_bytes(df: DataFrame) -> Optional[int]:
    """Catalyst's size estimate for a plan, without executing anything.

    Returns None when the estimate is unavailable or degenerate
    (Catalyst reports Long.MaxValue-ish sentinels for plans it cannot
    size, e.g. after non-pushed joins)."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j maps scala.math.BigInt to a Python int; JavaObject fallback
        size = int(raw if isinstance(raw, int) else raw.toString())
    except Exception:
        return None
    if size <= 0 or size >= (1 << 62):
        return None
    return size


def _may_broadcast(n_l: int, n_r: int, orderable_only: bool = False) -> bool:
    """``auto``'s broadcast rule over per-side row counts — plan-estimated
    or counted: broadcast the smaller side only when it is at most
    :data:`AUTO_BROADCAST_ROWS` rows AND truly tiny, or its cross-pair
    count fits the BNLJ budget, or its endpoints are strings (which
    cannot bin — broadcast or bust)."""
    small = min(n_l, n_r)
    return small <= AUTO_BROADCAST_ROWS and (
        small <= BROADCAST_TINY_ROWS
        or n_l * n_r <= AUTO_BNL_PAIR_BUDGET
        or orderable_only
    )


def _join_how(keepleft: bool, keepright: bool) -> str:
    """Spark join type of the reference's ``keepleft``/``keepright``."""
    outer = ("inner", "left_outer", "right_outer", "full_outer")
    return outer[bool(keepleft) + 2 * bool(keepright)]


def _no_string_bins(orderable_only: bool) -> None:
    """The binned rewrite needs endpoint arithmetic: reject string spans
    whether binned was asked for or ``auto`` picked it."""
    if orderable_only:
        raise ValueError(
            "strategy='binned' needs arithmetic span endpoints, and auto "
            "picks it when the side it would broadcast exceeds "
            f"{AUTO_BROADCAST_ROWS} rows; string-endpoint spans join via "
            "the broadcast strategies (or 'hash' in interval_join_by) — for "
            "a large x large join, map the dictionary-ordered key to an "
            "integer ordinal first"
        )


def _span_kinds(left, lon: str, right, ron: str, strategy):
    """The endpoint gate of every interval-join entry point: both ``on``
    columns must be span structs; string endpoints (ordered, not
    arithmetic) may not mix with numeric ones and cannot take the binned
    rewrite (bin math on endpoints).  Returns ``(integral,
    orderable_only)`` — exact long bin arithmetic vs IEEE float bins, and
    whether the spans are string-endpoint."""
    lt, rt = left.schema[lon].dataType, right.schema[ron].dataType
    validate_span_type(lt, f"left `on` ({lon})")
    validate_span_type(rt, f"right `on` ({ron})")
    orderable_only = span_endpoints_orderable_only(lt)
    if orderable_only != span_endpoints_orderable_only(rt):
        raise ValueError(
            "cannot join string-endpoint spans against numeric-endpoint "
            "spans: implicit casts would compare lexicographic garbage. "
            "Cast one side first."
        )
    if strategy == "binned":
        _no_string_bins(orderable_only)
    integral = span_endpoints_integral(lt) and span_endpoints_integral(rt)
    return integral, orderable_only


_LBND = "__dfi_lbnd"
_RBND = "__dfi_rbnd"


def _bounds_col_name(df: DataFrame, spec, side: str):
    """``None`` when ``spec`` is a flavor literal; the validated column
    name when it names a per-row flavor string column of ``df``."""
    if not isinstance(spec, str) or spec in BOUNDS:
        return None
    if spec in df.columns:
        dt = df.schema[spec].dataType.simpleString()
        if dt != "string":
            raise ValueError(
                f"per-row bounds column {spec!r} in the {side} table must "
                f"be a string column of flavors '[)', '(]', '[]', '()'; "
                f"got {dt}"
            )
        return spec
    raise ValueError(
        f"unsupported bounds {spec!r} for the {side} side; use '[)', "
        "'(]', '[]' or '()', or the name of a per-row flavor string "
        f"column present in the {side} table"
    )


def _checked_flavor_col(name: str, side: str):
    """The per-row flavor column wrapped in a validity check that raises
    (first action) on any value outside the four flavors, including
    null — the per-row analog of the fused null-span rejection."""
    c = F.col(name)
    return F.when(c.isin(*BOUNDS), c).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"invalid per-row bounds flavor in the {side} table "
                    f"column {name!r}: "
                ),
                F.coalesce(c, F.lit("NULL")),
            )
        )
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on="span",
    renamecols=None,
    renameon=("_left", "_right"),
    makeunique: bool = False,
    keepleft: bool = False,
    keepright: bool = False,
    bounds: str = "[)",
    validate: str = "error",
    strategy: str = "auto",
    bin_width: Optional[int] = None,
    with_indices: bool = False,
) -> DataFrame:
    """Overlap join of two interval tables.  See module docstring.

    Parameters mirror the reference signature
    (/root/reference/src/DataFrameIntervals.jl:98-100) plus engine
    extensions: ``bounds`` ('[)' default; also '(]', '[]', '()' — the
    reference's Interval{T,L,R} flavors applied uniformly — or a
    ``(left, right)`` pair of flavors for joins mixing interval types
    per side, e.g. ``bounds=('[]', '[)')``, matching the reference's
    per-type bound parameters src:31-46; either element may ALSO name a
    string column of that side's table holding per-ROW flavors — full
    ``Interval{T,L,R}`` element parity, src:31-35 — e.g.
    ``bounds=('bnd', '[)')`` for a left table mixing ``[a,b]`` and
    ``[a,b)`` rows; the bounds column is consumed by the predicate and
    does not appear in the output), ``validate``
    ('error' = reference-faithful null rejection, fused into the join
    when no stats scan runs | 'skip'), ``strategy``, ``bin_width`` (ns,
    or a float width for double-endpoint spans; cost-model estimate when
    omitted), ``with_indices`` (adds ``_left_idx``/``_right_idx`` for
    deterministic-order tests).  ``on`` columns may be any numeric span
    struct — bigint-ns is canonical, ``struct<start: double, stop:
    double>`` is supported for generic ordered domains — or a span over
    DATE / TIMESTAMP / TIMESTAMP_NTZ endpoints (reference parity with
    arbitrary ordered ``T``, src:31-46): those are adapted one-time to
    exact integer ordinals (days / epoch-µs), joined on the integral
    fast path, and restored to the original domain on output.

    ``strategy='auto'`` (default) is stats-driven: one tiny agg per side
    (fused with the null validation), then broadcast the smaller side if
    it is at most :data:`AUTO_BROADCAST_ROWS` rows, else the binned
    rewrite — a nested-loop plan over two large sides is quadratic and
    must never be picked implicitly.  Explicit 'broadcast_right' /
    'broadcast_left' / 'binned' skip the stats actions (except binned's
    width estimate when ``bin_width`` is omitted).

    Cache note: outer variants (``keepleft``/``keepright``/full) on the
    binned path persist their id-stamped inputs for row-id stability
    between the matched pass and the unmatched-recovery anti-join; the
    cache stays referenced by the lazy result.  After materializing the
    result, call :func:`release_join_caches` to free it.
    """
    lb_raw, rb_raw = _as_pair(bounds, default="[)")
    lbc = _bounds_col_name(left, lb_raw, "left")
    rbc = _bounds_col_name(right, rb_raw, "right")
    if lbc is None and rbc is None:
        normalize_bounds(bounds)
    else:
        # copy per-row flavors into reserved payload columns so the
        # rename protocol carries them through (the user's column keeps
        # its name in the output; the reserved copy is dropped at the
        # final projection)
        if lbc is not None:
            left = left.withColumn(
                _LBND,
                _checked_flavor_col(lbc, "left")
                if validate == "error"
                else F.col(lbc),
            )
        if rbc is not None:
            right = right.withColumn(
                _RBND,
                _checked_flavor_col(rbc, "right")
                if validate == "error"
                else F.col(rbc),
            )
    left, right, domains = _adapt_endpoint_domains(left, right, on)
    sides = setup_column_names(
        left,
        right,
        on,
        renamecols=renamecols,
        renameon=renameon,
        makeunique=makeunique,
        with_indices=with_indices,
    )
    bnd_drop = set()
    if lbc is not None or rbc is not None:
        lb_spec, rb_spec = lb_raw, rb_raw
        if lbc is not None:
            name = sides.rename_left[_LBND]
            bnd_drop.add(name)
            lb_spec = F.col(name)
        if rbc is not None:
            name = sides.rename_right[_RBND]
            bnd_drop.add(name)
            rb_spec = F.col(name)
        bounds = (lb_spec, rb_spec)
    # string endpoints are comparison-only: the overlap/intersection
    # expressions are type-generic, the binned rewrite is not
    integral, orderable_only = _span_kinds(
        sides.left, sides.left_on, sides.right, sides.right_on, strategy
    )

    # Strategy fast path FIRST (plan statistics, no execution): a side
    # Catalyst already knows to be tiny is broadcast without scanning
    # either input.  Null validation no longer forces a pre-scan — it is
    # fused into the span column below whenever the stats pass is
    # skipped, so the fast path applies to every validate mode.
    if strategy == "auto":
        szl = _plan_size_bytes(sides.left)
        szr = _plan_size_bytes(sides.right)
        # size//MIN_ROW_BYTES over-counts rows (16 B is the narrowest
        # span row), so the pair-budget check is conservative
        if (
            szl is not None
            and szr is not None
            and min(szl, szr) <= AUTO_BROADCAST_BYTES
            and _may_broadcast(szl // MIN_ROW_BYTES, szr // MIN_ROW_BYTES)
        ):
            strategy = "broadcast_left" if szl <= szr else "broadcast_right"

    # stats are needed by auto strategy selection and the binned width
    # estimate — one fused agg action per side covers both, and when it
    # runs anyway the null validation rides along eagerly for free.
    #
    # SEQUENTIAL PROBE (guide §1.2 "don't compute things you throw
    # away"): the right side is overwhelmingly the dimension side in
    # this engine's compositions (fact × windows / fragments / spans).
    # Its row count ALONE decides the unconditional-broadcast branch
    # (n <= BROADCAST_TINY_ROWS), so probe it first and skip the fact
    # side's stats scan entirely when it fires — at 100 TB that is one
    # full pass over the big table saved per auto join; at bench scale
    # it removes the probe materialization of derived left pipelines
    # (e.g. time_weighted_avg's validity table).
    stats = None
    if strategy == "auto" or (strategy == "binned" and bin_width is None):
        stats_r = _SideStats(
            sides.right, sides.right_on, arithmetic=not orderable_only
        )
        if strategy == "auto" and stats_r.n <= BROADCAST_TINY_ROWS:
            strategy = "broadcast_right"
            if validate == "error":
                if stats_r.nulls:
                    raise ValueError(_NULL_MSG.format(side="right"))
                # the left scan was skipped: its null rejection evaluates
                # inside the join itself (first action), no extra scan —
                # the same contract as the explicit-strategy path
                sides.left = _with_fused_null_check(
                    sides.left, sides.left_on, "left"
                )
            validate = "skip"  # handled above
        else:
            stats = (
                _SideStats(
                    sides.left, sides.left_on, arithmetic=not orderable_only
                ),
                stats_r,
            )
    if validate == "error":
        if stats is not None:
            for side, st in zip(("left", "right"), stats):
                if st.nulls:
                    raise ValueError(_NULL_MSG.format(side=side))
        else:
            # single-pass faithful rejection: the check evaluates inside
            # the join itself (first action), no extra scan
            sides.left = _with_fused_null_check(
                sides.left, sides.left_on, "left"
            )
            sides.right = _with_fused_null_check(
                sides.right, sides.right_on, "right"
            )

    how = _join_how(keepleft, keepright)

    if strategy == "auto":
        n_l, n_r = stats[0].n, stats[1].n
        if _may_broadcast(n_l, n_r, orderable_only):
            strategy = "broadcast_left" if n_l <= n_r else "broadcast_right"
        else:
            _no_string_bins(orderable_only)
            strategy = "binned"

    if strategy == "binned":
        if bin_width is None:
            bin_width = _estimate_bin_width(stats, integral)
        joined = _binned_join(sides, how, bounds, bin_width, integral)
    else:
        l = sides.left.alias("__dfi_l")
        r = sides.right.alias("__dfi_r")
        if strategy == "broadcast_right":
            r = F.broadcast(r)
        elif strategy == "broadcast_left":
            l = F.broadcast(l)
        cond = spans_overlap(
            F.col(f"__dfi_l.{sides.left_on}"),
            F.col(f"__dfi_r.{sides.right_on}"),
            bounds=bounds,
        )
        joined = l.join(r, cond, how)

    out_cols = [
        c for c in sides.left_cols + sides.right_cols if c not in bnd_drop
    ]
    intersection = span_intersect(F.col(sides.left_on), F.col(sides.right_on)).alias(
        sides.joined_on
    )
    return _restore_endpoint_domains(
        joined.select(*out_cols, intersection), sides, domains
    )


ROW_ID = "__dfi_rowid"


def interval_join_prebinned(
    left: DataFrame,
    right: DataFrame,
    bin_width: int,
    on="span",
    renamecols=None,
    renameon=("_left", "_right"),
    makeunique: bool = False,
    bounds: str = "[)",
    bin_col: str = None,
    keepleft: bool = False,
    keepright: bool = False,
) -> DataFrame:
    """Interval join over PRE-BINNED span tables
    (:func:`~..sources.sinks.write_binned_spans`) — the shuffle-free
    path for repeated large×large joins.

    Both inputs must already carry the exploded bin column and should be
    stored bucketed on it with equal bucket counts; ``bin_width`` must
    equal the width used at write time (the emit-once guard recomputes
    ``floor(intersection_start / W)`` and drops every duplicate bin
    pair, so a mismatched width silently loses or duplicates pairs —
    hence the explicit parameter).  The join is then a bucket-co-located
    equi-join: zero Exchange on either side, asserted in
    ``tests/test_plans.py``.

    ``keepleft`` / ``keepright`` (outer padding, as in
    :func:`interval_join`) need two extra storage-resident facts, both
    provided by ``write_binned_spans``: a per-base-row id column
    (``row_ids=True``, the default — a preserved side without it is
    rejected) and the invariant that a row's FIRST bin copy sits in
    ``floor(span.start / W)``.  Recovery then filters the preserved
    side to its first-bin copies (exactly one per base row — no
    un-exploded base table and no persist needed, the ids come from
    disk) and anti-joins them against the matched ids.  The matched
    path stays exchange-free; only the padding branch shuffles on the
    id, proportional to the preserved side's base rows."""
    bc = bin_col or _BIN
    for side, df, need in (
        ("left", left, keepleft),
        ("right", right, keepright),
    ):
        if bc not in df.columns:
            raise ValueError(
                f"{side} table has no bin column {bc!r}; write it with "
                "write_binned_spans first"
            )
        if need and ROW_ID not in df.columns:
            raise ValueError(
                f"keep{side} needs a row-id column {ROW_ID!r} on the "
                f"{side} table for outer recovery; rewrite it with "
                "write_binned_spans(..., row_ids=True)"
            )
    # give the two bin (and row-id) columns distinct names BEFORE the
    # rename protocol so they neither clash nor get payload-renamed
    lb = left.withColumnRenamed(bc, "__dfi_bin_l")
    rb = right.withColumnRenamed(bc, "__dfi_bin_r")
    if ROW_ID in lb.columns:
        lb = lb.withColumnRenamed(ROW_ID, "__dfi_rid_l")
    if ROW_ID in rb.columns:
        rb = rb.withColumnRenamed(ROW_ID, "__dfi_rid_r")
    sides = setup_column_names(
        lb, rb, on, renamecols=renamecols, renameon=renameon, makeunique=makeunique
    )
    _span_kinds(sides.left, sides.left_on, sides.right, sides.right_on, "binned")

    # renamecols also touches the bin/id columns — resolve final names
    bin_l = sides.rename_left["__dfi_bin_l"]
    bin_r = sides.rename_right["__dfi_bin_r"]
    rid_l = sides.rename_left.get("__dfi_rid_l")
    rid_r = sides.rename_right.get("__dfi_rid_r")
    # integral bins: write_binned_spans always bins with exact long math
    joined = _bin_match(
        sides.left, sides.right, sides.left_on, sides.right_on, bounds,
        bin_width, True, bins=(bin_l, bin_r),
    )
    if keepleft or keepright:
        # one base row per id: a span's FIRST bin copy always sits in
        # floor(start/W) (write_binned_spans' explode starts there for
        # every flavor, including empty spans — which never match but,
        # like batch keepleft/keepright, still pad)
        def _first_bin_copies(side_df, on_name, bin_name):
            return side_df.filter(
                F.col(bin_name)
                == _bin_of(F.col(on_name).getField("start"), bin_width, True)
            ).drop(bin_name)

        joined = _recover_unmatched(
            joined,
            _first_bin_copies(sides.left, sides.left_on, bin_l),
            _first_bin_copies(sides.right, sides.right_on, bin_r),
            keepleft,
            keepright,
            left_id=rid_l or _LID,
            right_id=rid_r or _RID,
        )
    out_cols = [
        c for c in sides.left_cols if c not in (bin_l, rid_l)
    ] + [c for c in sides.right_cols if c not in (bin_r, rid_r)]
    intersection = span_intersect(
        F.col(sides.left_on), F.col(sides.right_on)
    ).alias(sides.joined_on)
    return joined.select(*out_cols, intersection)


# ---------------------------------------------------------------------------
# Binned range-join strategy (SURVEY.md §4.3)
# ---------------------------------------------------------------------------


def _bin_of(x: Column, w, integral: bool) -> Column:
    """Bin id of endpoint ``x``: exact long ``floor(x / W)`` for integral
    endpoints (true floor division, so negative endpoints stay correct);
    IEEE ``floor(x / W)`` for doubles — deterministic (the same
    expression everywhere it is compared) and over-covering by at most
    one bin at exact multiples, which the residual overlap predicate
    re-verifies at the cost of a few probe rows."""
    if integral:
        return _floor_div(x, max(int(w), 1))
    return F.floor(x.cast("double") / F.lit(float(w))).cast("long")


def _explode_bins(
    df: DataFrame, on: str, w, flavor, integral: bool, keep_empty: bool = False
) -> DataFrame:
    """One row per fixed-width bin the span ``on`` touches (bin id in
    :data:`_BIN`; the first bin is always ``floor(start/W)``).

    ``flavor`` is THIS side's bounds flavor (a Column for per-row
    flavors).  Spans empty under it are dropped first ('[]' keeps
    width-0 spans: ``[a, a]`` is the point ``a``) unless ``keep_empty`` —
    ``write_binned_spans`` keeps them, since they still pad outer
    prebinned joins.  Integral open-upper flavors end at bin
    ``floor((stop-1)/W)``, closed-upper ones include ``stop`` (a match
    can bind exactly there); invalid per-row flavors over-cover, which
    the residual predicate rejects.  Double endpoints cover
    ``[floor(start/W), floor(stop/W)]``."""
    span = F.col(on)
    start, stop = span.getField("start"), span.getField("stop")
    per_row = isinstance(flavor, Column)
    if not keep_empty and (per_row or flavor != "[]"):
        nonempty = stop > start
        df = df.filter(nonempty | (flavor == "[]") if per_row else nonempty)
    if not integral:
        last = stop
    elif per_row:
        last = stop - F.when(
            F.substring(flavor, 2, 1) == ")", F.lit(1)
        ).otherwise(F.lit(0))
    else:
        last = stop - F.lit(1) if flavor in ("[)", "()") else stop
    bins = F.sequence(_bin_of(start, w, integral), _bin_of(last, w, integral))
    return df.withColumn(_BIN, F.explode(bins))


def _bin_match(
    lb: DataFrame, rb: DataFrame, lon: str, ron: str, bounds, w,
    integral: bool, key_eq=(), bins=(_BIN, _BIN),
) -> DataFrame:
    """The bin equi-join every binned entry point shares: same bin (and
    same key — ``key_eq``, keyed joins), the residual ``spans_overlap``,
    and the emit-once guard.

    A matched pair shares every bin its intersection touches; keeping
    only ``bin == floor(greatest(l.start, r.start)/W)`` emits each pair
    exactly once with NO distinct/dedup shuffle.  ``bins`` names the two
    sides' bin columns (prebinned tables carry their own); both are
    dropped from the result."""
    lbin, rbin = bins
    l, r = lb.alias("__dfi_l"), rb.alias("__dfi_r")
    lq, rq = F.col(f"__dfi_l.{lon}"), F.col(f"__dfi_r.{ron}")
    bin_l = F.col(f"__dfi_l.{lbin}")
    cond = bin_l == F.col(f"__dfi_r.{rbin}")
    for e in key_eq:
        cond = cond & e
    inter_start = F.greatest(lq.getField("start"), rq.getField("start"))
    guard = bin_l == _bin_of(inter_start, w, integral)
    cond = cond & spans_overlap(lq, rq, bounds=bounds) & guard
    return l.join(r, cond, "inner").drop(lbin, rbin)


def _estimate_bin_width(
    stats: Tuple[_SideStats, _SideStats],
    integral: bool = True,
    key_factor: Optional[float] = None,
):
    """Bin width from a cost model over per-side stats (count, mean
    duration, covering span — already collected for strategy selection).

    Model: explode/shuffle cost ~ n_l*d_l/W + n_r*d_r/W; same-bin pair
    evaluations ~ n_l*n_r*(d_l+W)*(d_r+W)/(T*W) for rows spread over
    covering span T.  Minimizing the sum gives

        W* = sqrt( T*(n_l*d_l + n_r*d_r)/(n_l*n_r) + d_l*d_r )

    (validated empirically: on 100k spans x 10k windows the sweep
    optimum 1-3h matches W* ~ 1.3h).  Integral spans floor the result to
    a whole ≥1 width; double spans keep the float width.

    KEYED joins (``interval_join_by``): the key equality already culls
    cross-key pairs, so same-bin pair evaluations divide by the shared
    key cardinality K while explode cost is unchanged — W* widens by
    ~sqrt(K) (``key_factor = min(K_l, K_r)`` from the fused HLL
    estimate; measured at sf0.1, 1000 users: the unkeyed width read
    3.7s, the widened one 1.9s).

    An explicit ``key_factor`` overrides the HLL cardinality with the
    sketch-planner's EFFECTIVE cardinality ``n_l·n_r / J`` (J = the
    Count-Min pair-work estimate, :mod:`..plans.planner`): identical
    to K for uniform keys, SMALLER under skew — so a hot key gets
    narrower bins, which is exactly how a composite (key, bin) shuffle
    key spreads skew."""
    sl, sr = stats
    if not sl.n or not sr.n or sl.lo is None or sr.lo is None:
        return 1 if integral else 1.0
    t = max(
        max(float(sl.hi), float(sr.hi)) - min(float(sl.lo), float(sr.lo)),
        1.0 if integral else 1e-300,
    )
    if key_factor is None:
        key_factor = max(min(sl.kdist, sr.kdist), 1)
    else:
        key_factor = max(float(key_factor), 1.0)
    w2 = (
        key_factor * t * (sl.n * sl.dur + sr.n * sr.dur) / (sl.n * sr.n)
        + sl.dur * sr.dur
    )
    w = w2**0.5
    return max(int(w), 1) if integral else w


def _binned_join(
    sides: _Sides, how: str, bounds, bin_width, integral: bool = True, key_eq=()
) -> DataFrame:
    """The binned rewrite of the global and keyed joins: explode both
    sides (:func:`_explode_bins`), match (:func:`_bin_match`; ``key_eq``
    adds the keyed join's key equalities), and for outer variants recover
    unmatched rows via anti-joins on persisted row ids and
    ``unionByName(allowMissingColumns=True)`` — the same structure as the
    reference's ``join_indices`` missing-padding (src:157-180).
    """
    lb_flavor, rb_flavor = normalize_bounds(bounds)
    need_left_ids = how in ("left_outer", "full_outer")
    need_right_ids = how in ("right_outer", "full_outer")
    lefts, rights = sides.left, sides.right
    if need_left_ids:
        lefts = _stamp_ids(lefts, _LID)
    if need_right_ids:
        rights = _stamp_ids(rights, _RID)
    matched = _bin_match(
        _explode_bins(lefts, sides.left_on, bin_width, lb_flavor, integral),
        _explode_bins(rights, sides.right_on, bin_width, rb_flavor, integral),
        sides.left_on, sides.right_on, bounds, bin_width, integral, key_eq,
    )
    if how == "inner":
        return matched
    return _recover_unmatched(
        matched, lefts, rights, need_left_ids, need_right_ids
    )


# Persisted id-stamped inputs of outer binned joins.  Spark has no
# "result materialized" callback, so the engine cannot know when the
# cache is safe to drop — entries are tracked here and released
# explicitly by the caller.
_PERSISTED_JOIN_INPUTS: list = []


def _stamp_ids(df: DataFrame, name: str) -> DataFrame:
    """Stamp fresh row ids into the private column ``name``, persist, and
    register the cache for :func:`release_join_caches`.  The ids are
    always new: an input column of the same meaning (``with_indices``
    output repeats a left id once per match) is not unique per row.  The
    persist is load-bearing: ``monotonically_increasing_id`` must agree
    between the matched pass and the anti-join, so the stamped plan may
    NOT be recomputed."""
    df = df.withColumn(name, F.monotonically_increasing_id()).persist()
    _PERSISTED_JOIN_INPUTS.append(df)
    return df


def release_join_caches(blocking: bool = False) -> int:
    """Unpersist every id-stamped input cached by outer binned interval
    joins (:func:`interval_join` / :func:`interval_join_by` with
    ``keepleft``/``keepright``/full, and binned semi/anti joins).

    The caches exist for row-id stability between the matched pass and
    the unmatched-recovery anti-join; they stay referenced by the
    returned lazy DataFrames, so the engine cannot drop them itself.
    Call this AFTER materializing (collect/write) the join results —
    releasing earlier makes downstream actions silently recompute the
    id-stamped plans (wasted work, and recomputed ids are not
    guaranteed stable).  Returns the number of entries released.
    """
    n = 0
    while _PERSISTED_JOIN_INPUTS:
        df = _PERSISTED_JOIN_INPUTS.pop()
        try:
            df.unpersist(blocking=blocking)
            n += 1
        except Exception:  # session already stopped — nothing to free
            pass
    return n


def _recover_unmatched(
    matched: DataFrame,
    lefts: DataFrame,
    rights: DataFrame,
    need_left_ids: bool,
    need_right_ids: bool,
    left_id: str = _LID,
    right_id: str = _RID,
) -> DataFrame:
    """Outer recovery shared by the binned paths and the prebinned path:
    anti-join each id-stamped side against the matched ids, union the
    padding rows in (``allowMissingColumns`` nulls the other side).  Ids
    come from :func:`_stamp_ids` (persisted, so stable) or, on prebinned
    tables, from storage (stable by construction, no persist)."""
    pieces = [matched]
    if need_left_ids:
        matched_l = matched.select(left_id).distinct()
        pieces.append(lefts.join(matched_l, left_id, "left_anti"))
    if need_right_ids:
        matched_r = matched.select(right_id).distinct()
        pieces.append(rights.join(matched_r, right_id, "left_anti"))
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


# ---------------------------------------------------------------------------
# semi / anti interval joins (engine extension; the reference has only
# the projecting join family, src/DataFrameIntervals.jl:98-130)
# ---------------------------------------------------------------------------


def _interval_semi_anti(
    left: DataFrame,
    right: DataFrame,
    on,
    bounds: str,
    strategy: str,
    bin_width,
    how: str,
) -> DataFrame:
    lb_flavor, rb_flavor = normalize_bounds(bounds)
    lon, ron = _resolve_on(on)
    left, right, (dom_l, _dom_r) = _adapt_endpoint_domains(left, right, on)
    integral, orderable_only = _span_kinds(left, lon, right, ron, strategy)

    rspans = right.select(F.col(ron).alias("__dfi_rspan"))
    cond = spans_overlap(F.col(lon), F.col("__dfi_rspan"), bounds=bounds)

    def _restore(df):
        # "output = left unchanged" includes the endpoint domain
        if dom_l is None:
            return df
        return df.withColumn(lon, span_from_ordinal(F.col(lon), dom_l))

    sr = None
    if strategy == "auto":
        sr = _SideStats(rspans, "__dfi_rspan", arithmetic=not orderable_only)
        if sr.n <= AUTO_BROADCAST_ROWS:
            strategy = "broadcast_right"
        else:
            _no_string_bins(orderable_only)
            strategy = "binned"

    if strategy == "broadcast_right":
        return _restore(left.join(F.broadcast(rspans), cond, how))
    if strategy != "binned":
        raise ValueError(
            f"unsupported strategy {strategy!r}; use 'auto', "
            "'broadcast_right' or 'binned'"
        )

    # Binned path: the existence test runs as the shared bin match
    # projecting ONLY matched left row ids (distinct, so the emit-once
    # guard does not change the result), then one id-equi semi/anti join
    # back onto the persisted id-stamped left.
    if bin_width is None:
        sl = _SideStats(left, lon)
        sr = sr or _SideStats(rspans, "__dfi_rspan")
        bin_width = _estimate_bin_width((sl, sr), integral)

    lid = _stamp_ids(left, _LID)
    matched_ids = (
        _bin_match(
            _explode_bins(
                lid.select(_LID, lon), lon, bin_width, lb_flavor, integral
            ),
            _explode_bins(rspans, "__dfi_rspan", bin_width, rb_flavor, integral),
            lon, "__dfi_rspan", bounds, bin_width, integral,
        )
        .select(_LID)
        .distinct()
    )
    return _restore(lid.join(matched_ids, _LID, how).drop(_LID))


def interval_semi_join(
    left: DataFrame,
    right: DataFrame,
    on="span",
    bounds: str = "[)",
    strategy: str = "auto",
    bin_width=None,
) -> DataFrame:
    """Left rows whose span overlaps AT LEAST ONE right span.  Output =
    ``left`` unchanged (columns, multiset — a row never duplicates no
    matter how many right spans it overlaps); right columns never
    appear, so no rename protocol applies.

    ``strategy='auto'``: broadcast the right span column when it is at
    most :data:`AUTO_BROADCAST_ROWS` rows (a native BroadcastNestedLoop
    LeftSemi — dedup-free); otherwise the binned existence test above.
    Null left spans overlap nothing: dropped here, kept by
    :func:`interval_anti_join` (SQL EXISTS semantics).
    """
    return _interval_semi_anti(
        left, right, on, bounds, strategy, bin_width, "left_semi"
    )


def interval_anti_join(
    left: DataFrame,
    right: DataFrame,
    on="span",
    bounds: str = "[)",
    strategy: str = "auto",
    bin_width=None,
) -> DataFrame:
    """Left rows whose span overlaps NO right span (complement of
    :func:`interval_semi_join`; same output contract)."""
    return _interval_semi_anti(
        left, right, on, bounds, strategy, bin_width, "left_anti"
    )


# ---------------------------------------------------------------------------
# keyed interval join (engine extension): only same-key pairs join
# ---------------------------------------------------------------------------


def interval_join_by(
    left: DataFrame,
    right: DataFrame,
    by,
    on="span",
    renamecols=None,
    renameon=("_left", "_right"),
    makeunique: bool = False,
    keepleft: bool = False,
    keepright: bool = False,
    bounds: str = "[)",
    validate: str = "error",
    strategy: str = "hash",
    bin_width: Optional[int] = None,
) -> DataFrame:
    """Interval overlap join restricted to rows sharing ``by`` keys —
    the per-entity (per-user, per-channel, per-session) overlap join.

    The reference joins all pairs and groups afterwards
    (``groupby_interval_join``, src:263); at scale that generates
    cross-key candidates only to discard them.  Keying the join instead
    co-partitions both sides on ``by`` (one shuffle each) and overlaps
    only within a key — the shape that survives a 100 TB input with
    high key cardinality.  AQE handles skewed keys.

    Output: ``by`` columns once (coalesced across sides for outer
    rows), then the renamed left and right columns (same rename
    protocol and clash rules as :func:`interval_join`), then the
    intersection span named after left's ``on`` (null on padded rows).
    Null keys never match (SQL equality), like any Spark equi-join.

    ``strategy``: 'hash' (default — equi shuffle join, Catalyst picks
    sort-merge/shuffled-hash; the scale default), 'broadcast_right' /
    'broadcast_left' (tiny side), 'binned' (composite (keys, bin)
    equi-join with the emit-once guard — for LOW-cardinality keys whose
    per-key row counts are too large for a per-key nested loop;
    keepleft/keepright/full recover unmatched rows via anti-joins on
    persisted row ids, same structure as the global binned path), or
    'auto' — SKETCH-DRIVEN selection (:mod:`..plans.planner`): tiny
    sides broadcast (plan stats, then counted stats); otherwise a
    bounded Count-Min register pass per side estimates the same-key
    pair work J = Σ_k n_l(k)·n_r(k) (the cms_join_size inner product)
    and picks 'hash' while J stays within PAIR_WORK_FACTOR× the rows
    shuffled, else 'binned' with the bin width informed by the
    EFFECTIVE key cardinality n_l·n_r/J (uniform keys → K, skewed
    keys → narrower bins).  A key predicted to own ≥50% of J emits a
    salt-or-warn advisory naming key_skew_report / AQE skew join.

    Like :func:`interval_join`, ``on`` spans with date / timestamp /
    timestamp_ntz endpoints are adapted to exact integer ordinals and
    restored on output.
    """
    normalize_bounds(bounds)
    by_cols = [by] if isinstance(by, str) else list(by)
    if not by_cols:
        raise ValueError("interval_join_by requires at least one `by` column")
    lon_in, ron_in = _resolve_on(on)
    for c in by_cols:
        if c not in left.columns or c not in right.columns:
            raise ValueError(f"`by` column {c!r} must exist in both tables")
        if c in (lon_in, ron_in):
            raise ValueError(f"`by` column {c!r} clashes with the `on` column")
    left, right, domains = _adapt_endpoint_domains(left, right, on)

    # hide keys behind reserved names so the rename protocol (including
    # renamecols suffixing and clash detection) only governs payload
    lk = {c: f"__dfi_lk_{i}" for i, c in enumerate(by_cols)}
    rk = {c: f"__dfi_rk_{i}" for i, c in enumerate(by_cols)}
    left2 = left.select(
        *[F.col(c).alias(lk.get(c, c)) for c in left.columns]
    )
    right2 = right.select(
        *[F.col(c).alias(rk.get(c, c)) for c in right.columns]
    )
    sides = setup_column_names(
        left2,
        right2,
        on,
        renamecols=renamecols,
        renameon=renameon,
        makeunique=makeunique,
    )
    integral, orderable_only = _span_kinds(
        sides.left, sides.left_on, sides.right, sides.right_on, strategy
    )

    if validate == "error":
        sides.left = _with_fused_null_check(sides.left, sides.left_on, "left")
        sides.right = _with_fused_null_check(
            sides.right, sides.right_on, "right"
        )
    elif validate != "skip":
        raise ValueError(f"unsupported validate {validate!r}")
    lefts, rights = sides.left, sides.right

    # final (possibly renamecols-suffixed) temp key names
    lk_final = [sides.rename_left[lk[c]] for c in by_cols]
    rk_final = [sides.rename_right[rk[c]] for c in by_cols]

    key_eq = [
        F.col(a) == F.col(b) for a, b in zip(lk_final, rk_final)
    ]
    inter = span_intersect(F.col(sides.left_on), F.col(sides.right_on)).alias(
        sides.joined_on
    )
    how = _join_how(keepleft, keepright)

    # auto keeps its own rule: key equality bounds the pair work, so a
    # keyed broadcast needs no cross-pair budget
    auto_key_factor = None
    if strategy == "auto":
        from ..plans.planner import (
            choose_keyed_strategy,
            keyed_join_profile,
            warn_if_hot_key,
        )

        # tiny-side fast path first: plan statistics, no execution
        szl = _plan_size_bytes(lefts)
        szr = _plan_size_bytes(rights)
        if szl is not None and szr is not None:
            small = min(szl, szr)
            if (
                small <= AUTO_BROADCAST_BYTES
                and small // MIN_ROW_BYTES <= AUTO_BROADCAST_ROWS
            ):
                strategy = (
                    "broadcast_left" if szl <= szr else "broadcast_right"
                )
        if strategy == "auto":
            cl = driver_count(lefts)
            cr = driver_count(rights)
            if min(cl, cr) <= AUTO_BROADCAST_ROWS:
                strategy = (
                    "broadcast_left" if cl <= cr else "broadcast_right"
                )
            else:
                prof = keyed_join_profile(lefts, rights, lk_final, rk_final)
                warn_if_hot_key(prof, "interval_join_by")
                strategy = choose_keyed_strategy(prof)
                if strategy == "binned" and orderable_only:
                    strategy = "hash"  # string endpoints cannot bin
                if strategy == "binned" and bin_width is None:
                    auto_key_factor = prof.pair_key_factor

    if strategy in ("hash", "broadcast_right", "broadcast_left"):
        l_in, r_in = lefts, rights
        if strategy == "broadcast_right":
            r_in = F.broadcast(r_in)
        elif strategy == "broadcast_left":
            l_in = F.broadcast(l_in)
        cond = key_eq[0]
        for e in key_eq[1:]:
            cond = cond & e
        overlap = spans_overlap(
            F.col(sides.left_on), F.col(sides.right_on), bounds=bounds
        )
        joined = l_in.join(r_in, cond & overlap, how)
    elif strategy == "binned":
        if bin_width is None:
            stats = (
                _SideStats(lefts, sides.left_on, key_cols=lk_final),
                _SideStats(rights, sides.right_on, key_cols=rk_final),
            )
            bin_width = _estimate_bin_width(
                stats, integral, key_factor=auto_key_factor
            )
        joined = _binned_join(sides, how, bounds, bin_width, integral, key_eq)
    else:
        raise ValueError(
            f"unsupported strategy {strategy!r}; use 'auto', 'hash', "
            "'broadcast_right', 'broadcast_left' or 'binned'"
        )

    key_out = [
        F.coalesce(F.col(a), F.col(b)).alias(c)
        for a, b, c in zip(lk_final, rk_final, by_cols)
    ]
    payload = [
        c for c in sides.left_cols if c not in lk_final
    ] + [c for c in sides.right_cols if c not in rk_final]
    return _restore_endpoint_domains(
        joined.select(*key_out, *payload, inter), sides, domains
    )


def point_in_span_join(
    points: DataFrame,
    spans: DataFrame,
    ts_col: str = "ts",
    on: str = "span",
    renamecols=None,
    makeunique: bool = False,
    keep_unmatched: bool = False,
    validate: str = "error",
    strategy: str = "auto",
    bin_width: Optional[int] = None,
) -> DataFrame:
    """Stabbing join: each point row paired with every span row whose
    interval CONTAINS it (``span.start <= ts < span.stop``).

    The common attribution shape — assign raw events to the session /
    window / experiment interval covering them.  Users reaching for
    ``interval_join`` with zero-width spans hit a trap: ``[t, t)`` is
    empty and matches NOTHING under the ``'[)'`` overlap predicate.
    This operator encodes the point as the canonical one-nanosecond
    span ``[t, t+1)`` (exact for the engine's integral-ns domain:
    ``[t, t+1)`` overlaps ``[s, e)`` iff ``s <= t < e``) and delegates
    to :func:`interval_join`, inheriting the full strategy machinery —
    broadcast for small span tables, the binned equi-join rewrite for
    large-large, stats-driven ``'auto'``.

    Output: point columns (renamed per ``renamecols``), span-side
    columns, and the containing span under ``<on>_right``; the
    synthetic point span and intersection columns are dropped.
    ``keep_unmatched=True`` keeps points no span covers
    (span-side columns null), mirroring ``keepleft``.

    No reference counterpart (the reference joins intervals only);
    engine extension for point-event attribution at scale.
    """
    if ts_col not in points.columns:
        raise ValueError(f"point_in_span_join: no column {ts_col!r} in points")
    dt = points.schema[ts_col].dataType.simpleString()
    span_dom = (
        span_endpoint_domain(spans.schema[on].dataType)
        if on in spans.columns
        else None
    )
    if (dt == "date" and span_dom == "date") or (
        dt in ("timestamp", "timestamp_ntz")
        and span_dom in ("timestamp", "timestamp_ntz")
    ):
        # date-stabbing (SCD2 lookups) over day ordinals / µs-stabbing
        # over epoch-µs ordinals — [t, t+1) is exact in either unit.
        # Convert BOTH sides to the shared ordinal unit here (the only
        # sanctioned encoded-ordinal caller; interval_join itself
        # rejects numeric↔domain mixes) and restore the span domain on
        # the output below.
        from ..functions.spans import endpoint_to_ordinal

        ts = endpoint_to_ordinal(F.col(ts_col), dt)
        spans = spans.withColumn(on, span_to_ordinal(F.col(on), span_dom))
    elif dt not in ("bigint", "int", "smallint", "tinyint") or (
        span_dom is not None
    ):
        raise ValueError(
            "point_in_span_join: ts_col must be an integral epoch-ns "
            "column over numeric spans, or a date/timestamp column "
            "paired with spans of the same endpoint domain; got "
            f"{dt} points over {span_dom or 'numeric'} spans"
        )
    else:
        ts = F.col(ts_col).cast("long")
    pts = points.withColumn(on, F.struct(ts.alias("start"), (ts + 1).alias("stop")))
    joined = interval_join(
        pts,
        spans,
        on=on,
        renamecols=renamecols,
        renameon=("_left", "_right"),
        makeunique=makeunique,
        keepleft=keep_unmatched,
        validate=validate,
        strategy=strategy,
        bin_width=bin_width,
    )
    # drop the synthetic point span and the (equally synthetic)
    # intersection; the containing interval stays as `<on>_right`
    out = joined.drop(f"{on}_left", on)
    if span_dom is not None:
        out = out.withColumn(
            f"{on}_right", span_from_ordinal(F.col(f"{on}_right"), span_dom)
        )
    return out


def proximity_join(
    left: DataFrame,
    right: DataFrame,
    max_gap: int,
    on: str = "span",
    renameon=("_left", "_right"),
    renamecols=None,
    makeunique: bool = False,
    validate: str = "error",
    strategy: str = "auto",
    bin_width: Optional[int] = None,
    gap_col: str = "gap",
) -> DataFrame:
    """Near-miss interval join: one row per (left, right) pair whose
    spans overlap OR lie within ``max_gap`` (ns) of each other — the
    attribute-events-to-NEARBY-windows shape overlap joins can't
    express.  ``max_gap=0`` admits exactly touching spans.

    Output: the overlap join's columns with the intersection column
    replaced by ``gap_col`` — the separation between the spans (0 when
    they overlap or touch).

    Execution: REWRITE onto the overlap join — the left side is padded
    by ``max_gap`` on each end (half-open bounds make touching-at-
    padded-edges equal a gap of exactly ``max_gap``... admitted via a
    +1 pad with closed arithmetic below), joined with the existing
    broadcast/binned strategy selection, then the true gap is computed
    from the ORIGINAL endpoints.  Every scale property of
    :func:`interval_join` (bin equi-join, no cross join) carries over;
    the pad only widens bins by ``max_gap``."""
    if max_gap < 0:
        raise ValueError(f"max_gap must be >= 0, got {max_gap}")
    pad = int(max_gap) + 1  # half-open: stop+gap+1 admits gap == max_gap
    padded = left.withColumn(
        on,
        F.struct(
            (F.col(on).getField("start") - F.lit(pad)).alias("start"),
            (F.col(on).getField("stop") + F.lit(pad)).alias("stop"),
        ),
    )
    j = interval_join(
        padded,
        right,
        on=on,
        renameon=renameon,
        renamecols=renamecols,
        makeunique=makeunique,
        validate=validate,
        strategy=strategy,
        bin_width=bin_width,
    )
    lname, rname = f"{on}{renameon[0]}", f"{on}{renameon[1]}"
    # restore the unpadded left span, then the true separation
    ls = F.struct(
        (F.col(lname).getField("start") + F.lit(pad)).alias("start"),
        (F.col(lname).getField("stop") - F.lit(pad)).alias("stop"),
    )
    gap = F.greatest(
        F.greatest(
            ls.getField("start") - F.col(rname).getField("stop"),
            F.col(rname).getField("start") - ls.getField("stop"),
        ),
        F.lit(0),
    )
    out_cols = [c for c in j.columns if c not in (lname, rname, on)]
    return j.select(
        *out_cols,
        ls.alias(lname),
        F.col(rname),
        gap.alias(gap_col),
    ).filter(F.col(gap_col) <= max_gap)
