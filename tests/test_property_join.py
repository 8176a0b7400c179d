"""Property-based check: interval_join against a brute-force Python
oracle on randomized span tables (hypothesis drives the shapes; each
example is a full Spark round-trip, so examples are few and small).

Covers what the fixed fixtures cannot: adversarial span layouts
(nested, touching, duplicated, zero-width, far-apart) across both
physical strategies and all four outer modes.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from dataframeintervals_jl_spark.operators.interval_join import (
    interval_anti_join,
    interval_join,
    interval_join_by,
    interval_semi_join,
    release_join_caches,
)
from tests.conftest import make_span_df

EPOCH = 1_700_000_000_000_000_000

span_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=40),
        st.integers(min_value=0, max_value=25),
    ).map(lambda p: (EPOCH + p[0] * 1_000, EPOCH + (p[0] + p[1]) * 1_000)),
    min_size=0,
    max_size=12,
)


def brute_force(left, right, keepleft, keepright):
    pairs = set()
    lmatched, rmatched = set(), set()
    for i, (ls, le) in enumerate(left):
        for j, (rs, re) in enumerate(right):
            if max(ls, rs) < min(le, re):
                pairs.add((i, j))
                lmatched.add(i)
                rmatched.add(j)
    if keepleft:
        pairs |= {(i, None) for i in range(len(left)) if i not in lmatched}
    if keepright:
        pairs |= {(None, j) for j in range(len(right)) if j not in rmatched}
    return pairs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=span_lists, right=span_lists, keep=st.sampled_from([(False, False), (True, False), (False, True), (True, True)]))
def test_interval_join_matches_brute_force(spark, left, right, keep):
    keepleft, keepright = keep
    from pyspark.sql import types as T

    ldf = make_span_df(
        spark,
        [(s, e, i) for i, (s, e) in enumerate(left)],
        extra=[("lid", T.LongType())],
    )
    rdf = make_span_df(
        spark,
        [(s, e, j) for j, (s, e) in enumerate(right)],
        extra=[("rid", T.LongType())],
    )
    expected = brute_force(left, right, keepleft, keepright)
    for strategy in ("broadcast_right", "binned"):
        j = interval_join(
            ldf,
            rdf,
            keepleft=keepleft,
            keepright=keepright,
            validate="skip",
            strategy=strategy,
            bin_width=7_000,
        )
        got = {(r["lid"], r["rid"]) for r in j.select("lid", "rid").collect()}
        assert got == expected, f"strategy={strategy}"


def assert_binned_entry_point(ldf, rdf, expected, n_left, draw, label, **kw):
    """One other caller of the shared binned kernel per example, cycled
    by ``draw`` (the drawn table sizes), against the same brute-force
    pairs: a binned semi join returns the matched left ids (each once),
    a binned anti join their complement, and a binned interval_join_by
    over a constant key exactly the pairs."""
    from pyspark.sql import functions as F

    entry = ("semi", "anti", "by")[draw % 3]
    matched = sorted({i for i, _ in expected})
    if entry == "by":
        by = interval_join_by(
            ldf.withColumn("k", F.lit(0)),
            rdf.withColumn("k", F.lit(0)),
            "k",
            validate="skip",
            strategy="binned",
            **kw,
        )
        got = [(r["lid"], r["rid"]) for r in by.select("lid", "rid").collect()]
        assert set(got) == expected, f"interval_join_by {label}"
        assert len(got) == len(expected), f"interval_join_by dup {label}"
        return
    join = interval_semi_join if entry == "semi" else interval_anti_join
    ids = sorted(
        r["lid"]
        for r in join(ldf, rdf, strategy="binned", **kw).select("lid").collect()
    )
    release_join_caches()  # the binned semi/anti persisted its stamped left
    if entry == "anti":
        matched = sorted(set(range(n_left)) - set(matched))
    assert ids == matched, f"{entry} {label}"


def brute_force_bounds(left, right, bounds):
    strict = bounds != "[]"
    pairs = set()
    for i, (ls, le) in enumerate(left):
        for j, (rs, re) in enumerate(right):
            lo, hi = max(ls, rs), min(le, re)
            if lo < hi or (not strict and lo == hi):
                pairs.add((i, j))
    return pairs


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=span_lists,
    right=span_lists,
    bounds=st.sampled_from(["[)", "(]", "[]", "()"]),
)
def test_bounds_property_both_strategies(spark, left, right, bounds):
    from pyspark.sql import types as T

    ldf = make_span_df(
        spark,
        [(s, e, i) for i, (s, e) in enumerate(left)],
        extra=[("lid", T.LongType())],
    )
    rdf = make_span_df(
        spark,
        [(s, e, j) for j, (s, e) in enumerate(right)],
        extra=[("rid", T.LongType())],
    )
    expected = brute_force_bounds(left, right, bounds)
    for strategy in ("broadcast_right", "binned"):
        j = interval_join(
            ldf, rdf, bounds=bounds, validate="skip",
            strategy=strategy, bin_width=7_000,
        )
        got = {(r["lid"], r["rid"]) for r in j.select("lid", "rid").collect()}
        assert got == expected, f"strategy={strategy} bounds={bounds}"
    assert_binned_entry_point(
        ldf, rdf, expected, len(left), len(left) + len(right),
        f"bounds={bounds}", bounds=bounds, bin_width=7_000,
    )


def brute_force_mixed(left, right, lb, rb):
    """Independent oracle for per-side bounds: double the integer grid so
    every open/closed endpoint becomes an inclusive integer bound
    (closed lower a -> 2a, open lower -> 2a+1, closed upper b -> 2b,
    open upper -> 2b-1); intersection is then plain max<=min.  Exact for
    integer endpoints: any nonempty open intersection of integer-endpoint
    intervals contains a half-integer."""

    def lo_i(a, f):
        return 2 * a if f[0] == "[" else 2 * a + 1

    def hi_i(b, f):
        return 2 * b if f[1] == "]" else 2 * b - 1

    return {
        (i, j)
        for i, (ls, le) in enumerate(left)
        for j, (rs, re) in enumerate(right)
        if max(lo_i(ls, lb), lo_i(rs, rb)) <= min(hi_i(le, lb), hi_i(re, rb))
    }


ALL_BOUNDS = ["[)", "(]", "[]", "()"]


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    left=span_lists,
    right=span_lists,
    lb=st.sampled_from(ALL_BOUNDS),
    rb=st.sampled_from(ALL_BOUNDS),
)
def test_mixed_bounds_property_both_strategies(spark, left, right, lb, rb):
    """Per-side bounds pairs (all 16 flavor combinations, incl. the 4
    uniform diagonals) against the doubling oracle, on both physical
    strategies."""
    from pyspark.sql import types as T

    ldf = make_span_df(
        spark,
        [(s, e, i) for i, (s, e) in enumerate(left)],
        extra=[("lid", T.LongType())],
    )
    rdf = make_span_df(
        spark,
        [(s, e, j) for j, (s, e) in enumerate(right)],
        extra=[("rid", T.LongType())],
    )
    expected = brute_force_mixed(left, right, lb, rb)
    for strategy in ("broadcast_right", "binned"):
        j = interval_join(
            ldf, rdf, bounds=(lb, rb), validate="skip",
            strategy=strategy, bin_width=7_000,
        )
        got = {(r["lid"], r["rid"]) for r in j.select("lid", "rid").collect()}
        assert got == expected, f"strategy={strategy} bounds=({lb!r},{rb!r})"
    assert_binned_entry_point(
        ldf, rdf, expected, len(left), len(left) + len(right),
        f"bounds=({lb!r},{rb!r})", bounds=(lb, rb), bin_width=7_000,
    )


float_span_lists = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=60),
        st.integers(min_value=0, max_value=30),
    ).map(lambda p: (p[0] * 0.125, (p[0] + p[1]) * 0.125)),
    min_size=0,
    max_size=10,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=float_span_lists, right=float_span_lists)
def test_double_span_property_both_strategies(spark, left, right):
    """Double-endpoint spans: binned (IEEE float binning) must agree
    with broadcast and brute force, incl. exact bin-multiple endpoints
    (all endpoints are multiples of 0.125 = the dyadic worst case)."""
    ldf = spark.createDataFrame(
        [({"start": s, "stop": e}, i) for i, (s, e) in enumerate(left)],
        "span struct<start: double, stop: double>, lid long",
    )
    rdf = spark.createDataFrame(
        [({"start": s, "stop": e}, j) for j, (s, e) in enumerate(right)],
        "span struct<start: double, stop: double>, rid long",
    )
    expected = {
        (i, j)
        for i, (ls, le) in enumerate(left)
        for j, (rs, re) in enumerate(right)
        if max(ls, rs) < min(le, re)
    }
    for strategy, width in (("broadcast_right", None), ("binned", 0.5)):
        j = interval_join(
            ldf, rdf, validate="skip", strategy=strategy, bin_width=width
        )
        got = {(r["lid"], r["rid"]) for r in j.select("lid", "rid").collect()}
        assert got == expected, f"strategy={strategy}"
    assert_binned_entry_point(
        ldf, rdf, expected, len(left), len(left) + len(right),
        "double spans", bin_width=0.5,
    )


# ---------------------------------------------------------------------------
# interval-algebra laws: difference / complement / profile
# ---------------------------------------------------------------------------


def _measure(iv_list):
    """Total measure of a list of [s, e) intervals (may overlap)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(iv_list):
        if e <= s:
            continue
        if cur_s is None:
            cur_s, cur_e = s, e
        elif s > cur_e:
            total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_s is not None:
        total += cur_e - cur_s
    return total


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(left=span_lists, right=span_lists)
def test_difference_partitions_left(spark, left, right):
    """Law: for every left row, measure(fragments) + measure(left ∩
    union(right)) == duration(left).  Checked in aggregate over the
    whole table (fragments carry their source row's duration)."""
    from dataframeintervals_jl_spark import span_difference

    left = [(s, e) for s, e in left if e > s]
    right = [(s, e) for s, e in right if e > s]
    ldf = make_span_df(spark, left)
    rdf = make_span_df(spark, right)
    frags = [
        (r["span"]["start"], r["span"]["stop"])
        for r in span_difference(ldf, rdf).collect()
    ]
    # fragments are disjoint from the right union and lie inside left
    frag_total = sum(e - s for s, e in frags)
    expect = sum(
        (e - s) - _measure([(max(s, rs), min(e, re)) for rs, re in right])
        for s, e in left
    )
    assert frag_total == expect


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(right=span_lists)
def test_complement_tiles_range(spark, right):
    """Law: islands(right) ∪ complement(right) tile [lo, hi) exactly:
    measures add up and nothing overlaps."""
    from dataframeintervals_jl_spark import merge_spans, span_complement

    right = [(s, e) for s, e in right if e > s]
    rdf = make_span_df(spark, right)
    lo, hi = EPOCH - 5_000, EPOCH + 100_000
    comp = [
        (r["span"]["start"], r["span"]["stop"])
        for r in span_complement(rdf, lo, hi).collect()
    ]
    islands = [
        (r["span"]["start"], r["span"]["stop"])
        for r in merge_spans(rdf).collect()
    ]
    assert _measure(comp) + _measure(islands) == hi - lo
    # pairwise disjoint across the union of both sets
    all_iv = sorted(comp + islands)
    for (s1, e1), (s2, e2) in zip(all_iv, all_iv[1:]):
        assert e1 <= s2


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spans=span_lists)
def test_profile_integral_equals_total_duration(spark, spans):
    """Law: sum(depth x segment width) == sum of span durations, and
    the depth-1+ segments' union == the merged islands."""
    from dataframeintervals_jl_spark import merge_spans, overlap_profile

    spans = [(s, e) for s, e in spans if e > s]
    df = make_span_df(spark, spans)
    prof = [
        (r["span"]["start"], r["span"]["stop"], r["depth"])
        for r in overlap_profile(df).collect()
    ]
    assert sum((e - s) * d for s, e, d in prof) == sum(e - s for s, e in spans)
    islands = [
        (r["span"]["start"], r["span"]["stop"]) for r in merge_spans(df).collect()
    ]
    assert _measure([(s, e) for s, e, _ in prof]) == _measure(islands)


nms_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=30),   # start
        st.integers(min_value=0, max_value=15),   # width
        st.integers(min_value=0, max_value=4),    # score (ties likely)
        st.integers(min_value=0, max_value=2),    # key
    ),
    min_size=0,
    max_size=14,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(rows=nms_rows)
def test_suppress_dominated_spans_matches_brute_force(spark, rows):
    """Pairwise-dominance NMS against a per-pair Python oracle on
    adversarial layouts: nested / touching / zero-width spans, heavy
    score ties, multiple keys.  Zero-width spans overlap nothing
    under [) so they always survive."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dataframeintervals_jl_spark.functions.spans import make_span
    from dataframeintervals_jl_spark.operators.coalesce import (
        suppress_dominated_spans,
    )

    data = [
        (i, k, float(sc), EPOCH + s * 1_000, EPOCH + (s + w) * 1_000)
        for i, (s, w, sc, k) in enumerate(rows)
    ]
    expect = set()
    for i, ki, sci, si, ei in data:
        dominated = any(
            kj == ki
            and max(si, sj) < min(ei, ej)
            and (scj > sci or (scj == sci and j < i))
            for j, kj, scj, sj, ej in data
            if j != i
        )
        if not dominated:
            expect.add(i)
    df = spark.createDataFrame(
        data, "id long, k long, score double, s long, e long"
    ).select("id", "k", "score", make_span(F.col("s"), F.col("e")).alias("span"))
    got = {
        r["id"]
        for r in suppress_dominated_spans(df, "score", "id", by="k").collect()
    }
    assert got == expect
