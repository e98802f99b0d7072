"""Round-7 additions: ADVICE-r6 regression pins."""

from __future__ import annotations

import numpy as np
import pandas as pd


def test_letter_counts_null_text_yields_zero_histogram():
    """ADVICE r6: a NULL text value arrives as None in the pandas batch;
    the histogram must be all-zero (→ n_letters=0 → filtered, matching the
    oracle's NULL propagation) instead of raising AttributeError and
    killing the whole query on real corpora."""
    from hri_flink_validation_passthrough_spark.operators.text import (
        _letter_counts,
    )

    out = _letter_counts(pd.Series(["abc", None, "zz!"]))
    assert np.array_equal(out.iloc[0][:3], [1, 1, 1])
    assert int(out.iloc[1].sum()) == 0
    assert int(out.iloc[2][25]) == 2


def test_quantile_sketch_merges_losslessly(spark):
    """The sketch's core contract: build on two disjoint halves, merge by
    cell-wise addition, and the quantile readout equals the single-pass
    build — the property that makes it streaming/partition-safe."""
    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.operators.text import (
        quantile_sketch_build,
        quantile_sketch_quantiles,
    )
    from hri_flink_validation_passthrough_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.01", "events")
    whole = quantile_sketch_quantiles(quantile_sketch_build(e)).collect()

    h1 = quantile_sketch_build(e.filter(F.xxhash64("event_id") % 2 == 0))
    h2 = quantile_sketch_build(e.filter(F.xxhash64("event_id") % 2 != 0))
    merged_bins = (
        h1.unionByName(h2)
        .groupBy("event_type", "bin")
        .agg(F.sum("cnt").alias("cnt"))
    )
    merged = quantile_sketch_quantiles(merged_bins).collect()

    assert sorted(map(tuple, whole)) == sorted(map(tuple, merged))
    assert len(whole) > 0


# ---- r7 pure-algebra property tests (hypothesis; no SparkSession) --------
# These pin the shared algebra that BOTH the Spark plan and the DuckDB
# oracle implement — the layer where a bug is invisible to parity checks.

from hypothesis import given, settings
from hypothesis import strategies as st


def _qsk_readout(cents: list[int], q: int, width: int) -> float:
    """Pure-python mirror of the fixed-grid quantile readout (both
    engines): integer ceil-rank target, cumulative bin counts, integer
    milli-cent interpolation."""
    from collections import Counter

    bins = Counter(c // width for c in cents)
    n = len(cents)
    target = (q * n + 99) // 100
    cum = 0
    for b in sorted(bins):
        below = cum
        cum += bins[b]
        if cum >= target:
            scale = width * 1000
            return (b * scale + (target - below) * scale // bins[b]) / 100000.0
    raise AssertionError("target beyond cumulative count")


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50000), min_size=1, max_size=300),
    st.sampled_from([50, 90, 99]),
)
def test_quantile_sketch_estimate_within_one_bin(cents, q):
    """The interpolated grid estimate is within ONE bin width of the true
    ceil-rank quantile (the deterministic bound the docstring claims —
    linear interpolation inside the landing bin can sit a full bin from
    the true value when the bin is wide and the mass is at one edge)."""
    width = 500
    est_cents = _qsk_readout(cents, q, width) * 100
    n = len(cents)
    true_q = sorted(cents)[(q * n + 99) // 100 - 1]
    assert abs(est_cents - true_q) <= width


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50000), min_size=1, max_size=200),
    st.lists(st.integers(min_value=0, max_value=50000), min_size=0, max_size=200),
)
def test_quantile_sketch_merge_invariant(a, b):
    """readout(sketch(A) merged sketch(B)) == readout(sketch(A union B)) for
    every quantile — the mergeability contract, engine-free."""
    for q in (50, 90, 99):
        assert _qsk_readout(a + b, q, 500) == _qsk_readout(b + a, q, 500)


@settings(max_examples=300, deadline=None)
@given(st.integers(min_value=0, max_value=2**50 - 1))
def test_hll_rank_equals_leading_zero_definition(r):
    """rho = 51 - bitlength(r) (the bin()-based form both engines compute)
    must equal the textbook 'position of the first 1-bit in the 50-bit
    field' (leading zeros + 1), with r=0 -> 51."""
    via_bin = 51 if r == 0 else 51 - r.bit_length()
    textbook = 51 if r == 0 else (50 - r.bit_length()) + 1
    assert via_bin == textbook
    assert 1 <= via_bin <= 51


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=51), min_size=1024, max_size=1024))
def test_hll_integer_harmonic_sum_is_exact(regs):
    """S = sum(2^(51-reg)) over a common 2^51 denominator represents
    sum(2^-reg) EXACTLY (fits in int64 for m=1024), so both engines carry
    identical integers to the one final division."""
    from fractions import Fraction

    S = sum(1 << (51 - reg) for reg in regs)
    assert S < 2**63  # int64-safe: max is 1024 * 2^51 = 2^61
    exact = sum(Fraction(1, 2**reg) for reg in regs)
    assert Fraction(S, 2**51) == exact


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2000), min_size=1, max_size=150))
def test_gini_value_group_decomposition_is_exact(cents):
    """sum over DISTINCT-value groups of v*(m*below + m(m+1)/2) must equal
    the brute-force sum(i * x_i) over the sorted multiset — the identity
    the Gini query's distinct-value window rests on, including the
    even-factor triangular split both engines now compute."""
    from collections import Counter

    xs = sorted(cents)
    brute = sum((i + 1) * x for i, x in enumerate(xs))
    groups = Counter(cents)
    below = 0
    total = 0
    for v in sorted(groups):
        m = groups[v]
        tri = (m // 2) * (m + 1) if m % 2 == 0 else m * ((m + 1) // 2)
        assert tri == m * (m + 1) // 2  # the split is exact
        total += v * (m * below + tri)
        below += m
    assert total == brute


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**6),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=32,
    ),
    st.integers(min_value=0, max_value=10**6),
    st.integers(min_value=0, max_value=10**6),
)
def test_zonemap_prune_never_drops_a_matching_file(intervals, lo, hi):
    """Interval-overlap pruning soundness: a file whose [min,max] contains
    ANY value in [lo, hi) must survive the prune (over-keeping is fine,
    dropping is corruption) — the boundary algebra zonemap_prune uses,
    pad-free worst case."""
    if lo > hi:
        lo, hi = hi, lo
    files = [(min(a, b), max(a, b)) for a, b in intervals]
    kept = [i for i, (mn, mx) in enumerate(files) if mn < hi and mx >= lo]
    for i, (mn, mx) in enumerate(files):
        # Witness-based match check, INDEPENDENT of the prune predicate's
        # boundary algebra (r7 ADVICE: the old form embedded the exact keep
        # condition, making the assertion tautological): the file matches iff
        # some concrete integer v lies in BOTH the file's [mn, mx] and the
        # query's [lo, hi). Over integers, if any witness exists then one of
        # these candidates is a witness, and each candidate is checked by
        # direct membership in both intervals.
        has_match = any(
            mn <= v <= mx and lo <= v < hi
            for v in (mn, mx, lo, hi - 1, max(mn, lo), min(mx, hi - 1))
        )
        if has_match:
            assert i in kept


def test_map_showcase_null_type_distinct_from_nul_byte(spark, tmp_path):
    """ADVICE r14 (low, resolved r15): the NULL event_type group used to
    ride inside the map under a '\\x00' sentinel key — observable through
    size/map_filter, and a GENUINE NUL-byte event_type value would merge
    with it. The NULL group now rides outside the map as its own
    aggregate: both groups count, separately."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hri_flink_validation_passthrough_spark.plans.scalar import (
        map_functions_showcase,
    )

    ts = datetime.datetime(2024, 1, 1)
    rows = {
        "event_id": [1, 2, 3, 4],
        "ts": [ts] * 4,
        "user_id": [7, 7, 7, 7],
        "event_type": ["\x00", None, "error", "error"],
        "value": [1.0] * 4,
        "props": [None] * 4,
    }
    t = pa.table(
        rows,
        schema=pq.read_schema("/root/testdata/sf0.001/events.parquet").remove_metadata(),
    )
    pq.write_table(t, str(tmp_path / "events.parquet"))
    out = {
        r["user_id"]: r
        for r in map_functions_showcase(spark, str(tmp_path)).collect()
    }
    r = out[7]
    # groups: '\x00' (1), NULL (1), 'error' (2) -> three distinct types
    assert r["n_types"] == 3
    assert r["total"] == 4
    assert r["error_cnt"] == 2
    assert r["hot_types"] == 0
