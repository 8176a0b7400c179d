"""interval_join semantics vs a brute-force Python oracle, the column
naming/ordering contract, outer-join behavior, error cases, and
broadcast-vs-binned strategy parity (SURVEY.md §5 patterns 2-6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dataframeintervals_jl_spark import (
    dfspan,
    interval_join,
    quantile_windows,
)

from .conftest import collect_sorted, make_span_df, overlap


def brute_force_pairs(left_rows, right_rows, bounds="[)"):
    """All (l, r) index pairs whose spans overlap."""
    return {
        (i, j)
        for i, l in enumerate(left_rows)
        for j, r in enumerate(right_rows)
        if overlap(l, r, bounds)
    }


@pytest.fixture(scope="module")
def windows(spark, spans_df):
    return quantile_windows(spark, 4, spans_df, label="quarter").cache()


def _flat(j):
    """Project to hashable scalars for set comparison."""
    return j.select(
        "x",
        F.col("span_left.start").alias("ls"),
        F.col("span_right.start").alias("rs"),
        F.col("span.start").alias("is_"),
        F.col("span.stop").alias("ie"),
    )


def test_inner_join_matches_brute_force(spark, spans_df, spans_pdf, windows):
    j = interval_join(spans_df, windows)
    got = {
        (r["ls"], r["rs"]) for r in _flat(j).collect()
    }
    left_spans = [(s["start"], s["stop"]) for s in spans_pdf["span"]]
    win_rows = [
        (r["span"]["start"], r["span"]["stop"]) for r in windows.collect()
    ]
    expect = {
        (left_spans[i][0], win_rows[j_][0])
        for i, j_ in brute_force_pairs(left_spans, win_rows)
    }
    assert got == expect
    # intersection really is the pairwise min/max
    for r in _flat(j).collect():
        assert r["is_"] == max(r["ls"], r["rs"])


def test_intersection_column_is_clipped(spark, spans_df, windows):
    j = interval_join(spans_df, windows)
    bad = j.filter(
        (F.col("span.start") < F.greatest("span_left.start", "span_right.start"))
        | (F.col("span.stop") > F.least("span_left.stop", "span_right.stop"))
        | (F.col("span.start") >= F.col("span.stop"))
    )
    assert bad.count() == 0


def test_duration_invariant_per_window(spark, spans_df, windows):
    """Reference test:36-38: the synthetic left spans are disjoint, so
    per window the summed intersection duration <= window width."""
    j = interval_join(spans_df, windows)
    agg = (
        j.groupBy("quarter")
        .agg(
            F.sum(F.col("span.stop") - F.col("span.start")).alias("tot"),
            F.first(
                F.col("span_right.stop") - F.col("span_right.start")
            ).alias("width"),
        )
        .collect()
    )
    assert len(agg) == 4
    for r in agg:
        assert 0 < r["tot"] <= r["width"]


def test_output_column_order_contract(spark, spans_df, windows):
    """Left cols, right cols, joined-on LAST (reference test:42-43),
    preserved exactly on empty inputs too."""
    expect = ["label", "x", "span_left", "span_right", "quarter", "span"]
    j = interval_join(spans_df, windows)
    assert j.columns == expect
    assert interval_join(spans_df.limit(0), windows).columns == expect
    assert interval_join(spans_df, windows.limit(0), validate="skip").columns == expect
    assert interval_join(spans_df.limit(0), windows.limit(0), validate="skip").count() == 0


def test_keepleft_pads_unmatched(spark, spans_df, windows):
    """Reference test:45-48: drop Q4, keepleft resurrects its rows with
    null right/on columns."""
    w3 = windows.filter(F.col("quarter") <= 3)
    j = interval_join(spans_df, w3, keepleft=True)
    inner = interval_join(spans_df, w3)
    pad = j.filter(F.col("quarter").isNull())
    assert j.count() == inner.count() + pad.count()
    assert pad.count() > 0
    r = pad.first()
    assert r["span_right"] is None and r["span"] is None and r["span_left"] is not None
    # every padded left row lies entirely inside Q4
    lo, hi = dfspan(spans_df)
    q4_start = lo + (3 * (hi - lo)) // 4
    assert pad.filter(F.col("span_left.start") < q4_start).count() == 0


def test_keepright_resurrects_empty_window(spark, spans_df, windows):
    """Reference test:50-54: left rows only in the first half; windows
    past the midpoint come back as padded rows."""
    lo, hi = dfspan(spans_df)
    mid = lo + (hi - lo) // 2
    half = spans_df.filter(F.col("span.stop") <= mid)
    j = interval_join(half, windows, keepright=True)
    pad = j.filter(F.col("span_left").isNull())
    assert {r["quarter"] for r in pad.collect()} == {3, 4}
    assert pad.count() == 2


def test_full_outer(spark, spans_df, windows):
    lo, hi = dfspan(spans_df)
    mid = lo + (hi - lo) // 2
    half = spans_df.filter(F.col("span.stop") <= mid)
    w34 = windows.filter(F.col("quarter") >= 3)
    j = interval_join(half, w34, keepleft=True, keepright=True)
    assert j.filter(F.col("span_right").isNull()).count() == half.count()
    assert j.filter(F.col("span_left").isNull()).count() == 2
    assert j.filter(F.col("span").isNotNull()).count() == 0


# ---------------------------------------------------------------------------
# rename protocol
# ---------------------------------------------------------------------------


def test_renameon_suffixes_and_callable(spark, spans_df, windows):
    j = interval_join(spans_df, windows, renameon=("_l", "_r"))
    assert j.columns == ["label", "x", "span_l", "span_r", "quarter", "span"]
    j2 = interval_join(
        spans_df, windows, renameon=(lambda c: f"left_{c}", "_right")
    )
    assert "left_span" in j2.columns and "span_right" in j2.columns


def test_renamecols(spark, spans_df, windows):
    j = interval_join(spans_df, windows, renamecols=("_a", "_b"))
    assert j.columns == ["label_a", "x_a", "span_left", "span_right", "quarter_b", "span"]


def test_on_name_pair(spark, spans_df, windows):
    w = windows.withColumnRenamed("span", "period")
    j = interval_join(spans_df, w, on=("span", "period"))
    assert j.columns == ["label", "x", "span_left", "period_right", "quarter", "span"]


def test_on_clash_errors(spark, spans_df, windows):
    with pytest.raises(ValueError, match="renameon"):
        interval_join(spans_df, windows, renameon=("", "_right"))
    with pytest.raises(ValueError, match="not found"):
        interval_join(spans_df, windows, on="nope")
    with pytest.raises(ValueError, match="one `on` column"):
        interval_join(spans_df, windows, on=["a", "b"])


def test_makeunique(spark, spans_df):
    other = spans_df.select("label", "x", "span")
    with pytest.raises(ValueError, match="makeunique"):
        interval_join(spans_df, other)
    j = interval_join(spans_df, other, makeunique=True)
    assert j.columns == [
        "label", "x", "span_left", "label_1", "x_1", "span_right", "span",
    ]


# ---------------------------------------------------------------------------
# null validation (reference src:136-141, test:56-59)
# ---------------------------------------------------------------------------


def test_null_on_column_raises(spark):
    """Reference-faithful rejection with the reference's message.  The
    check is single-pass: fused into the join when the strategy needs no
    stats scan (raises at first action), eager when a stats scan runs
    anyway (raises at construction) — both carry the same message."""
    left = make_span_df(spark, [(0, 10), (None, None)])
    right = make_span_df(spark, [(5, 15)])
    with pytest.raises(Exception, match="missing values in the left"):
        interval_join(left, right).collect()
    with pytest.raises(Exception, match="missing values in the right"):
        interval_join(right, left).collect()
    # eager variant: the binned width estimate scans stats, so the same
    # rejection happens at construction time as a plain ValueError
    with pytest.raises(ValueError, match="missing values in the left"):
        interval_join(left, right, strategy="binned")
    # validate='skip' proceeds; null spans match nothing
    assert interval_join(left, right, validate="skip").count() == 1


def test_null_validation_runs_no_extra_jobs(spark):
    """validate='error' (the default) must not scan the inputs before
    the join action when the strategy is already known."""
    left = make_span_df(spark, [(0, 10)])
    right = make_span_df(spark, [(5, 15)])
    before = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    j = interval_join(left, right, strategy="broadcast_right")
    after = spark.sparkContext.statusTracker().getJobIdsForGroup(None)
    assert list(before) == list(after), "validation ran eager Spark jobs"
    assert j.count() == 1


# ---------------------------------------------------------------------------
# strategy parity: binned rewrite == broadcast nested loop
# ---------------------------------------------------------------------------


HOWS = [(False, False), (True, False), (False, True), (True, True)]


@pytest.mark.parametrize("keepleft,keepright", HOWS)
def test_binned_parity_all_hows(spark, spans_df, windows, keepleft, keepright):
    lo, hi = dfspan(spans_df)
    mid = lo + (hi - lo) // 2
    half = spans_df.filter(F.col("span.stop") <= mid)
    w34 = windows.filter(F.col("quarter") >= 2)
    kw = dict(keepleft=keepleft, keepright=keepright, validate="skip")
    a = interval_join(half, w34, strategy="broadcast_right", **kw)
    b = interval_join(half, w34, strategy="binned", **kw)
    assert collect_sorted(_flat(a)) == collect_sorted(_flat(b))


# spans in the fixture are seconds-wide (ns units): widths from 1s to
# far-beyond-the-covering-span; sub-ms widths would explode the per-row
# bin arrays (that regime is covered on small coordinates in
# test_binned_parity_degenerate_spans)
@pytest.mark.parametrize("bin_width", [10**9, 60 * 10**9, 10**15, 10**18])
def test_binned_parity_across_bin_widths(spark, spans_df, windows, bin_width):
    a = interval_join(spans_df, windows, strategy="broadcast_right")
    b = interval_join(spans_df, windows, strategy="binned", bin_width=bin_width)
    assert collect_sorted(_flat(a)) == collect_sorted(_flat(b))


@pytest.mark.parametrize("bounds", ["[)", "[]"])
def test_binned_parity_degenerate_spans(spark, bounds):
    """Zero-width and touching spans must behave identically on both
    paths: [5,5) matches nothing half-open, matches closed; [0,10)+[10,20)
    touch."""
    left = make_span_df(spark, [(0, 10), (5, 5), (10, 20), (15, 40)])
    right = make_span_df(spark, [(10, 20), (5, 5), (0, 5), (40, 50)])
    kw = dict(validate="skip", bounds=bounds, makeunique=True)
    a = interval_join(left, right, strategy="broadcast_right", **kw)
    b = interval_join(left, right, strategy="binned", bin_width=4, **kw)
    flat = lambda j: j.select(
        F.col("span_left.start"), F.col("span_left.stop"),
        F.col("span_right.start"), F.col("span_right.stop"),
    )
    assert collect_sorted(flat(a)) == collect_sorted(flat(b))
    # brute-force count check
    lrows = [(0, 10), (5, 5), (10, 20), (15, 40)]
    rrows = [(10, 20), (5, 5), (0, 5), (40, 50)]
    assert a.count() == len(brute_force_pairs(lrows, rrows, bounds))


def test_with_indices(spark, spans_df, windows):
    j = interval_join(spans_df, windows, with_indices=True)
    assert "_left_idx" in j.columns and "_right_idx" in j.columns
    n_left = spans_df.count()
    assert j.select("_left_idx").distinct().count() <= n_left


# ---------------------------------------------------------------------------
# bounds matrix + double-endpoint (generic T) spans
# ---------------------------------------------------------------------------


def _float_span_df(spark, rows, extra=()):
    fields = "span struct<start: double, stop: double>" + "".join(
        f", {n} {t}" for n, t in extra
    )
    data = [
        ({"start": float(r[0]), "stop": float(r[1])},) + tuple(r[2:]) for r in rows
    ]
    return spark.createDataFrame(data, fields)


@pytest.mark.parametrize("bounds", ["[)", "(]", "[]", "()"])
def test_bounds_matrix_broadcast_binned_parity(spark, bounds):
    """All four bounds flavors: join results must agree between the
    broadcast and binned strategies, and match brute force."""
    lefts = [(i * 7 % 50, i * 7 % 50 + (i % 4)) for i in range(40)]  # some 0-width
    rights = [(j * 11 % 60, j * 11 % 60 + 5) for j in range(20)]
    left = make_span_df(spark, lefts)
    right = make_span_df(spark, rights)
    kw = dict(validate="skip", bounds=bounds, renameon=("_l", "_r"))
    got_b = collect_sorted(
        interval_join(left, right, strategy="broadcast_right", **kw)
    )
    got_n = collect_sorted(
        interval_join(left, right, strategy="binned", bin_width=7, **kw)
    )
    assert got_b == got_n
    strict = bounds != "[]"
    expect = sum(
        1
        for a in lefts
        for b in rights
        if (max(a[0], b[0]) < min(a[1], b[1]))
        or (not strict and max(a[0], b[0]) == min(a[1], b[1]))
    )
    assert len(got_b) == expect


@pytest.mark.parametrize("strategy", ["broadcast_right", "binned"])
def test_double_endpoint_spans(spark, strategy):
    """Generic-T parity: double-endpoint spans join with the same
    semantics as bigint spans, under both strategies."""
    lefts = [(i * 0.37 % 5.0, i * 0.37 % 5.0 + 0.21) for i in range(60)]
    rights = [(j * 0.61 % 5.0, j * 0.61 % 5.0 + 0.15) for j in range(25)]
    left = _float_span_df(spark, lefts)
    right = _float_span_df(spark, rights)
    j = interval_join(
        left, right, validate="skip", strategy=strategy, renameon=("_l", "_r")
    )
    rows = j.collect()
    expect = sum(
        1
        for a in lefts
        for b in rights
        if max(a[0], b[0]) < min(a[1], b[1])
    )
    assert len(rows) == expect
    # intersection column keeps double endpoints and correct values
    for r in rows:
        i = r["span"]
        assert isinstance(i["start"], float)
        assert i["start"] == max(r["span_l"]["start"], r["span_r"]["start"])
        assert i["stop"] == min(r["span_l"]["stop"], r["span_r"]["stop"])


def test_double_span_outer_and_closed(spark):
    left = _float_span_df(spark, [(0.0, 1.0), (2.0, 2.0), (5.0, 6.0)])
    right = _float_span_df(spark, [(1.0, 2.0)])
    # touching at 1.0: no match under '[)', match under '[]'
    assert interval_join(left, right, validate="skip").count() == 0
    assert (
        interval_join(left, right, validate="skip", bounds="[]").count() == 2
    )  # [0,1]&[1,2] plus zero-width [2,2]&[1,2]
    out = interval_join(left, right, keepleft=True, validate="skip")
    assert out.count() == 3  # all left rows survive with null matches


def test_malformed_on_column_errors(spark):
    flat = spark.createDataFrame([(1, 2)], "start long, stop long")
    good = make_span_df(spark, [(0, 10)])
    with pytest.raises(ValueError, match="span struct"):
        interval_join(flat, good, on=("start", "span"))
    mixed = spark.createDataFrame(
        [({"start": 1, "stop": 2.0},)], "span struct<start: bigint, stop: double>"
    )
    with pytest.raises(ValueError, match="span struct"):
        interval_join(mixed, good)
    # string spans are a SUPPORTED ordered domain (round 7, reference
    # src:31-46) — but they may not mix with numeric spans: implicit
    # casts would compare lexicographic garbage
    stringy = spark.createDataFrame(
        [({"start": "a", "stop": "b"},)], "span struct<start: string, stop: string>"
    )
    with pytest.raises(ValueError, match="lexicographic"):
        interval_join(stringy, good)
    # a date struct is a supported ADAPTER domain, not malformed; a
    # bool-endpoint struct IS malformed
    boolish = spark.createDataFrame(
        [({"start": True, "stop": False},)],
        "span struct<start: boolean, stop: boolean>",
    )
    with pytest.raises(ValueError, match="span struct"):
        interval_join(boolish, good)


# ---------------------------------------------------------------------------
# interval_semi_join / interval_anti_join
# ---------------------------------------------------------------------------


def _rows(df):
    return sorted(
        (
            (
                (None if r["span"] is None else (r["span"]["start"], r["span"]["stop"])),
                r["tag"],
            )
            for r in df.collect()
        ),
        key=repr,
    )


def test_semi_anti_partition_and_strategy_parity(spark):
    import random

    from dataframeintervals_jl_spark import interval_anti_join, interval_semi_join
    from pyspark.sql.types import LongType

    rng = random.Random(5)
    left = [
        (s, s + rng.randrange(1, 30), i)
        for i, s in enumerate(rng.randrange(0, 400) for _ in range(120))
    ]
    right = [(s, s + rng.randrange(1, 15)) for s in (rng.randrange(0, 400) for _ in range(25))]
    ldf = make_span_df(spark, left, extra=[("tag", LongType())])
    rdf = make_span_df(spark, right).select("span")

    def brute(anti):
        out = []
        for a, b, t in left:
            hit = any(max(a, s) < min(b, e) for s, e in right)
            if hit != anti:
                out.append(((a, b), t))
        return sorted(out)

    for strat in ("broadcast_right", "binned", "auto"):
        semi = _rows(interval_semi_join(ldf, rdf, strategy=strat))
        anti = _rows(interval_anti_join(ldf, rdf, strategy=strat))
        assert semi == sorted(brute(False), key=repr), strat
        assert anti == sorted(brute(True), key=repr), strat
        assert len(semi) + len(anti) == len(left), strat


def test_semi_preserves_duplicates_and_never_duplicates(spark):
    from dataframeintervals_jl_spark import interval_semi_join
    from pyspark.sql.types import LongType

    # one left row overlapping MANY right spans must appear exactly once;
    # genuinely duplicate left rows must appear exactly twice
    ldf = make_span_df(spark, [(0, 100, 7), (0, 100, 7)], extra=[("tag", LongType())])
    rdf = make_span_df(spark, [(i * 10, i * 10 + 5) for i in range(10)]).select("span")
    for strat in ("broadcast_right", "binned"):
        got = _rows(interval_semi_join(ldf, rdf, strategy=strat))
        assert got == [((0, 100), 7), ((0, 100), 7)], strat


def test_semi_anti_null_and_bounds(spark):
    from dataframeintervals_jl_spark import interval_anti_join, interval_semi_join
    from pyspark.sql.types import LongType

    ldf = make_span_df(
        spark, [(0, 10, 1), (None, None, 2), (20, 30, 3)], extra=[("tag", LongType())]
    )
    rdf = make_span_df(spark, [(10, 20)]).select("span")
    # '[)': touching [0,10) vs [10,20) is no overlap; null matches nothing
    assert _rows(interval_semi_join(ldf, rdf)) == []
    assert _rows(interval_anti_join(ldf, rdf)) == sorted(
        [(None, 2), ((0, 10), 1), ((20, 30), 3)], key=repr
    )
    # '[]': touching endpoints DO overlap
    assert _rows(interval_semi_join(ldf, rdf, bounds="[]")) == [
        ((0, 10), 1),
        ((20, 30), 3),
    ]


def test_binned_paths_stamp_their_own_row_ids(spark):
    """A ``_left_idx`` column in the input is never taken for the binned
    paths' row ids: ``with_indices`` output repeats a left id once per
    match, and a payload column may hold anything."""
    from dataframeintervals_jl_spark import (
        interval_anti_join,
        interval_join_by,
        interval_semi_join,
        release_join_caches,
    )
    from pyspark.sql.types import LongType

    ldf = make_span_df(
        spark, [(0, 10, 1), (5, 15, 2), (20, 30, 3)], extra=[("a", LongType())]
    )
    wdf = make_span_df(spark, [(0, 8, 1), (8, 16, 2)], extra=[("w", LongType())])
    # left ids 0 and 1 each match both windows: two rows per id, with
    # different intersections ([0,8)/[8,10) and [5,8)/[8,15))
    j = interval_join(ldf, wdf, with_indices=True, strategy="broadcast_right")
    probe = make_span_df(spark, [(1, 2), (6, 7)])
    rows = [
        (r["a"], r["w"], r["span"]["start"], r["span"]["stop"])
        for r in j.collect()
    ]
    hit = {
        (a, w)
        for a, w, s, e in rows
        if any(max(s, ps) < min(e, pe) for ps, pe in [(1, 2), (6, 7)])
    }
    assert hit == {(1, 1), (2, 1)}
    for join, want in (
        (interval_semi_join, sorted(hit)),
        (interval_anti_join, sorted({(a, w) for a, w, _, _ in rows} - hit)),
    ):
        got = join(j, probe, strategy="binned", bin_width=4)
        assert sorted((r["a"], r["w"]) for r in got.collect()) == want, join

    # a payload column named _left_idx (one value for every row): outer
    # recovery must still pad the unmatched left row, payload untouched
    lpay = ldf.withColumn("_left_idx", F.lit(7).cast("long"))
    for out in (
        interval_join(lpay, wdf, keepleft=True, strategy="binned", bin_width=4),
        interval_join_by(
            lpay.withColumn("k", F.lit(0)),
            wdf.withColumn("k", F.lit(0)),
            "k",
            keepleft=True,
            strategy="binned",
            bin_width=4,
        ),
    ):
        got = sorted((r["a"], r["w"], r["_left_idx"]) for r in out.collect())
        assert got == [(1, 1, 7), (1, 2, 7), (2, 1, 7), (2, 2, 7), (3, None, 7)]
    release_join_caches()


# ---------------------------------------------------------------------------
# interval_join_by (keyed overlap join)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def keyed_tables(spark):
    import random

    rng = random.Random(31)
    L = [
        (k, s, s + rng.randrange(1, 30))
        for k in range(5)
        for s in (rng.randrange(0, 300) for _ in range(40))
    ]
    R = [
        (k, s, s + rng.randrange(1, 20))
        for k in range(4)  # key 4 exists only on the left
        for s in (rng.randrange(0, 300) for _ in range(30))
    ]

    def mk(rows, tag):
        return spark.createDataFrame(
            [
                (k, {"start": s, "stop": e}, i)
                for i, (k, s, e) in enumerate(rows)
            ],
            f"k long, span struct<start: long, stop: long>, {tag} long",
        )

    return L, R, mk(L, "li").cache(), mk(R, "ri").cache()


def _brute_by(L, R, how):
    pairs = [
        (i, j)
        for i, (k, a, b) in enumerate(L)
        for j, (kk, s, e) in enumerate(R)
        if k == kk and max(a, s) < min(b, e)
    ]
    res = list(pairs)
    if how in ("left", "full"):
        matched = {p[0] for p in pairs}
        res += [(i, None) for i in range(len(L)) if i not in matched]
    if how in ("right", "full"):
        matched = {p[1] for p in pairs}
        res += [(None, j) for j in range(len(R)) if j not in matched]
    return sorted(res, key=repr)


def test_interval_join_by_matches_brute_force(spark, keyed_tables):
    from dataframeintervals_jl_spark import interval_join_by

    L, R, ldf, rdf = keyed_tables

    def run(**kw):
        j = interval_join_by(ldf, rdf, by="k", **kw)
        return sorted(((r["li"], r["ri"]) for r in j.collect()), key=repr)

    assert run() == _brute_by(L, R, "inner")
    assert run(strategy="broadcast_right") == _brute_by(L, R, "inner")
    assert run(strategy="binned", validate="skip") == _brute_by(L, R, "inner")
    assert run(keepleft=True) == _brute_by(L, R, "left")
    assert run(keepright=True) == _brute_by(L, R, "right")
    assert run(keepleft=True, keepright=True) == _brute_by(L, R, "full")
    # binned outer variants: persisted-id anti-join recovery must match
    # the hash path exactly (VERDICT r4 missing #4)
    for kw, how in (
        ({"keepleft": True}, "left"),
        ({"keepright": True}, "right"),
        ({"keepleft": True, "keepright": True}, "full"),
    ):
        assert run(strategy="binned", validate="skip", **kw) == _brute_by(
            L, R, how
        ), f"binned {how}"


def test_interval_join_by_contract(spark, keyed_tables):
    from dataframeintervals_jl_spark import interval_join_by

    _, _, ldf, rdf = keyed_tables
    j = interval_join_by(ldf, rdf, by="k")
    # key once and first, payload renamed per protocol, intersection last
    assert j.columns == ["k", "span_left", "li", "span_right", "ri", "span"]
    # intersection is clipped and nonempty on matched rows
    bad = j.filter(
        (F.col("span.start") < F.greatest("span_left.start", "span_right.start"))
        | (F.col("span.stop") > F.least("span_left.stop", "span_right.stop"))
        | (F.col("span.start") >= F.col("span.stop"))
    )
    assert bad.count() == 0
    # padded outer rows carry the key from the surviving side
    full = interval_join_by(ldf, rdf, by="k", keepleft=True, keepright=True)
    assert full.filter(F.col("k").isNull()).count() == 0

    with pytest.raises(ValueError, match="must exist in both"):
        interval_join_by(ldf, rdf.withColumnRenamed("k", "kk"), by="k")
    with pytest.raises(ValueError, match="clashes with the `on`"):
        interval_join_by(ldf, rdf, by="span")
    # binned outer keeps the column contract (key first, intersection
    # last, null span on padded rows)
    bfull = interval_join_by(
        ldf, rdf, by="k", keepleft=True, keepright=True,
        strategy="binned", validate="skip",
    )
    assert bfull.columns == ["k", "span_left", "li", "span_right", "ri", "span"]
    assert bfull.filter(F.col("k").isNull()).count() == 0
    padded = bfull.filter(
        F.col("span_left").isNull() | F.col("span_right").isNull()
    )
    assert padded.filter(F.col("span").isNotNull()).count() == 0


def test_interval_join_by_null_keys_never_match(spark):
    from dataframeintervals_jl_spark import interval_join_by

    schema = "k long, span struct<start: long, stop: long>"
    ldf = spark.createDataFrame([(None, {"start": 0, "stop": 10})], schema)
    rdf = spark.createDataFrame([(None, {"start": 0, "stop": 10})], schema)
    assert interval_join_by(ldf, rdf, by="k").count() == 0


def test_proximity_join_gap_semantics(spark):
    """Pairs within max_gap emit with the true separation; overlap and
    touch give gap 0; gap == max_gap is admitted, max_gap+1 is not."""
    from dataframeintervals_jl_spark.operators.interval_join import (
        proximity_join,
    )

    from pyspark.sql import types as T

    left = make_span_df(spark, [(100, 200, 1)], extra=[("lid", T.LongType())])
    rows = [
        (150, 250, 10),  # overlaps -> gap 0
        (200, 300, 11),  # touches  -> gap 0
        (230, 240, 12),  # gap 30
        (251, 260, 13),  # gap 51 > 50 -> excluded
        (40, 50, 14),  # gap 50 on the left side -> admitted
    ]
    right = make_span_df(spark, rows, extra=[("rid", T.LongType())])
    out = proximity_join(left, right, max_gap=50, validate="skip")
    got = {r["rid"]: r["gap"] for r in out.collect()}
    assert got == {10: 0, 11: 0, 12: 30, 14: 50}
    # restored left span is the ORIGINAL, not the padded one
    spans = {
        (r["span_left"]["start"], r["span_left"]["stop"]) for r in out.collect()
    }
    assert spans == {(100, 200)}
    import pytest

    with pytest.raises(ValueError, match="max_gap"):
        proximity_join(left, right, max_gap=-1)


def test_proximity_join_strategy_parity(spark):
    from dataframeintervals_jl_spark.operators.interval_join import (
        proximity_join,
    )

    from pyspark.sql import types as T

    left = make_span_df(
        spark, [(i * 100, i * 100 + 10, i) for i in range(50)],
        extra=[("lid", T.LongType())],
    )
    right = make_span_df(
        spark, [(i * 73, i * 73 + 5, i) for i in range(70)],
        extra=[("rid", T.LongType())],
    )
    a = sorted(
        (r["lid"], r["rid"], r["gap"])
        for r in proximity_join(
            left, right, max_gap=40, validate="skip", strategy="broadcast_right"
        ).collect()
    )
    b = sorted(
        (r["lid"], r["rid"], r["gap"])
        for r in proximity_join(
            left, right, max_gap=40, validate="skip", strategy="binned"
        ).collect()
    )
    assert a == b and a


def test_release_join_caches_frees_outer_binned_persists(spark):
    """Outer binned joins persist id-stamped inputs for row-id
    stability; release_join_caches() frees them after the caller
    materializes the result (and is idempotent)."""
    from dataframeintervals_jl_spark import release_join_caches
    from dataframeintervals_jl_spark.operators.interval_join import (
        _PERSISTED_JOIN_INPUTS,
    )

    release_join_caches()  # drain leftovers from other tests
    L = spark.createDataFrame(
        [({"start": i * 10, "stop": i * 10 + 5}, i) for i in range(50)],
        "span struct<start: long, stop: long>, lid long",
    )
    R = spark.createDataFrame(
        [({"start": i * 20, "stop": i * 20 + 2}, i) for i in range(30)],
        "span struct<start: long, stop: long>, rid long",
    )
    out = interval_join(
        L, R, keepleft=True, keepright=True, strategy="binned", bin_width=16
    )
    assert len(_PERSISTED_JOIN_INPUTS) == 2
    out.count()  # materialize BEFORE releasing (the documented contract)
    assert release_join_caches() == 2
    assert _PERSISTED_JOIN_INPUTS == []
    assert release_join_caches() == 0


def _brute_rowbounds(lrows, rrows):
    """(lid, rid) pairs under per-row flavors, continuous-interval
    semantics (nonempty intersection)."""
    def flags(f):
        return f[0] == "[", f[1] == "]"

    out = set()
    for ls, le, lid, lf in lrows:
        for rs, re, rid, rf in rrows:
            llc, luc = flags(lf)
            rlc, ruc = flags(rf)
            lo, hi = max(ls, rs), min(le, re)
            if lo < hi:
                out.add((lid, rid))
            elif lo == hi:
                loc = llc if ls > rs else rlc if ls < rs else (llc and rlc)
                hic = luc if le < re else ruc if le > re else (luc and ruc)
                if loc and hic:
                    out.add((lid, rid))
    return out


def _rowbounds_tables(spark):
    flav = ["[)", "(]", "[]", "()"]
    lrows = [((i * 7) % 50, (i * 7) % 50 + (i % 4), i, flav[i % 4]) for i in range(60)]
    rrows = [(j * 5, j * 5 + 5, j, flav[(j + 1) % 4]) for j in range(12)]
    L = spark.createDataFrame(
        [({"start": s, "stop": e}, i, b) for s, e, i, b in lrows],
        "span struct<start: long, stop: long>, lid long, bnd string",
    )
    R = spark.createDataFrame(
        [({"start": s, "stop": e}, j, b) for s, e, j, b in rrows],
        "span struct<start: long, stop: long>, rid long, rbnd string",
    )
    return lrows, rrows, L, R


@pytest.mark.parametrize("strategy", ["broadcast_right", "binned"])
def test_per_row_bounds_match_brute_force(spark, strategy):
    """Per-row flavor columns on BOTH sides (full Interval{T,L,R}
    element parity, reference src:31-35): zero-width spans under every
    flavor, both strategies; the user's flavor columns survive to the
    output, the reserved copies do not."""
    lrows, rrows, L, R = _rowbounds_tables(spark)
    j = interval_join(L, R, bounds=("bnd", "rbnd"), strategy=strategy, bin_width=8)
    got = {(r["lid"], r["rid"]) for r in j.collect()}
    assert got == _brute_rowbounds(lrows, rrows)
    assert "bnd" in j.columns and "rbnd" in j.columns
    assert not [c for c in j.columns if c.startswith("__dfi")]


@pytest.mark.parametrize("flavor", ["[)", "(]", "[]", "()"])
def test_per_row_bounds_constant_column_equals_uniform(spark, flavor):
    """A per-row bounds column holding one constant flavor must produce
    the identical pair set as the uniform-flavor join (property tying
    the new path to the four audited uniform paths)."""
    lrows, rrows, L, R = _rowbounds_tables(spark)
    Lc = L.withColumn("bnd", F.lit(flavor))
    Rc = R.withColumn("rbnd", F.lit(flavor))
    ju = interval_join(L.drop("bnd"), R.drop("rbnd"), bounds=flavor,
                       strategy="binned", bin_width=8)
    jp = interval_join(Lc, Rc, bounds=("bnd", "rbnd"),
                       strategy="binned", bin_width=8)
    pu = {(r["lid"], r["rid"]) for r in ju.collect()}
    pp = {(r["lid"], r["rid"]) for r in jp.collect()}
    assert pu == pp


def test_per_row_bounds_outer_and_validation(spark):
    lrows, rrows, L, R = _rowbounds_tables(spark)
    exp = _brute_rowbounds(lrows, rrows)
    j = interval_join(L, R, bounds=("bnd", "rbnd"), keepleft=True,
                      strategy="binned", bin_width=8)
    unmatched = {lid for _, _, lid, _ in lrows} - {a for a, _ in exp}
    assert j.count() == len(exp) + len(unmatched)
    from dataframeintervals_jl_spark import release_join_caches
    release_join_caches()
    # invalid flavor: raises under validate='error', no-match under skip
    Lbad = L.withColumn(
        "bnd", F.when(F.col("lid") == 0, "x]").otherwise(F.col("bnd"))
    )
    with pytest.raises(Exception, match="invalid per-row bounds"):
        interval_join(Lbad, R, bounds=("bnd", "rbnd"),
                      strategy="broadcast_right").count()
    js = interval_join(Lbad, R, bounds=("bnd", "rbnd"),
                       strategy="broadcast_right", validate="skip")
    got = {(r["lid"], r["rid"]) for r in js.collect()}
    assert got == {p for p in exp if p[0] != 0}
    # a non-string bounds column and an unknown name both reject eagerly
    with pytest.raises(ValueError, match="string column"):
        interval_join(L.withColumn("bnd", F.lit(1)), R, bounds=("bnd", "[)"))
    with pytest.raises(ValueError, match="unsupported bounds"):
        interval_join(L, R, bounds=("nope", "[)"))
