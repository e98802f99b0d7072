"""Unit pins for the JVM-side column helpers (functions/__init__.py).

These helpers are the building blocks of the similarity/dedup/text operators;
each is pinned against hand-computed values so a drive-by edit to a formula
fails here before it shows up as an oracle drift three layers up.
"""

from __future__ import annotations

import hashlib
import math

import pytest

from pyspark.sql import functions as F

from hri_flink_validation_passthrough_spark.functions import (
    cosine_similarity,
    digit_ratio,
    dot,
    fingerprint_md5,
    norm,
    normalized_text,
    punct_count,
    token_count,
    tokens,
)


@pytest.fixture(scope="module")
def vec_df(spark):
    return spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, -5.0, 6.0])], "a array<double>, b array<double>"
    )


def test_dot(vec_df):
    assert vec_df.select(dot("a", "b").alias("d")).collect()[0]["d"] == pytest.approx(
        1 * 4 - 2 * 5 + 3 * 6
    )


def test_norm(vec_df):
    assert vec_df.select(norm("a").alias("n")).collect()[0]["n"] == pytest.approx(
        math.sqrt(14)
    )


def test_cosine_similarity_self_is_one(vec_df):
    row = vec_df.select(
        cosine_similarity("a", "a").alias("self"),
        cosine_similarity("a", "b").alias("cross"),
    ).collect()[0]
    assert row["self"] == pytest.approx(1.0)
    expected = 12.0 / (math.sqrt(14) * math.sqrt(77))
    assert row["cross"] == pytest.approx(expected)


@pytest.fixture(scope="module")
def text_df(spark):
    rows = [
        ("hello,  World! 99 bottles.",),
        ("   ",),
        ("",),
        ("a.b,c;d:e!f?g",),
    ]
    return spark.createDataFrame(rows, "text string")


def test_tokens_and_count(text_df):
    got = text_df.select(
        tokens("text").alias("t"), token_count("text").alias("n")
    ).collect()
    assert got[0]["t"] == ["hello,", "World!", "99", "bottles."] and got[0]["n"] == 4
    # whitespace-only and empty both tokenize to the empty array, not ['']
    assert got[1]["t"] == [] and got[1]["n"] == 0
    assert got[2]["t"] == [] and got[2]["n"] == 0


def test_punct_count(text_df):
    got = [r["p"] for r in text_df.select(punct_count("text").alias("p")).collect()]
    assert got == [3, 0, 0, 6]


def test_digit_ratio(text_df):
    got = [r["d"] for r in text_df.select(digit_ratio("text").alias("d")).collect()]
    assert got[0] == pytest.approx(2 / 26)
    assert got[2] == 0.0  # empty text: defined 0, not NaN/div-by-zero


def test_normalized_text_and_fingerprint(spark):
    df = spark.createDataFrame(
        [("  Hello,   WORLD!! 42  ",), ("hello world 42",)], "text string"
    )
    got = df.select(
        normalized_text("text").alias("norm"),
        fingerprint_md5("text").alias("fp"),
    ).collect()
    assert got[0]["norm"] == "hello world 42"
    # both spellings normalize identically -> identical fingerprints
    assert got[0]["fp"] == got[1]["fp"]
    assert got[0]["fp"] == hashlib.md5(b"hello world 42").hexdigest()


def test_blocked_ewma_matches_recursive_ground_truth(spark):
    """The 3-block carry truncation in events_ewma_blocked must stay within
    1e-6 of the true recursive EWMA — the oracle only proves both engines
    compute the same truncated algebra, this proves the algebra is EWMA."""
    from hri_flink_validation_passthrough_spark.operators.analytics import (
        EWMA_ALPHA,
        events_ewma_blocked,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r["user_id"], r["event_id"]): r["ewma"]
        for r in events_ewma_blocked(spark, sf_dir).collect()
    }
    rows = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .selectExpr("user_id", "event_id", "value", "ts")
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    n_checked = 0
    for user, evs in by_user.items():
        evs.sort(key=lambda r: (r["ts"], r["event_id"]))
        e = None
        for r in evs:
            e = r["value"] if e is None else EWMA_ALPHA * r["value"] + (1 - EWMA_ALPHA) * e
            assert abs(got[(user, r["event_id"])] - e) < 1e-4 + 1e-6, (
                f"user {user} event {r['event_id']}: blocked "
                f"{got[(user, r['event_id'])]} vs recursive {e}"
            )
            n_checked += 1
    assert n_checked == len(got) > 0


def test_prefix_join_filter_is_lossless(spark):
    """AllPairs prefix filtering must produce EXACTLY the brute-force pair
    set on an adversarial corpus (many shared hot shingles, near-threshold
    pairs) — a too-short prefix would silently drop true pairs."""
    from hri_flink_validation_passthrough_spark.operators import dedup, linkage

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    docs = []
    for i in range(40):
        # rotate + perturb so pair similarities spread across the threshold
        toks = base[i % 3 :] + base[: i % 3] + [f"tail{i % 7}", f"x{i % 5}"]
        docs.append((i, " ".join(toks)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    s = dedup._shingles(df)
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup._jaccard_pairs(s, linkage.PREFIX_TAU).collect()
    }

    import unittest.mock as mock

    with mock.patch.object(linkage, "_shingles_for", lambda _s, _d: s):
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in linkage.set_similarity_prefix_join(spark, "unused").collect()
        }
    assert got == brute and len(brute) > 0


def test_qgram_count_filter_blocking_is_complete(spark):
    """The q-gram count bound (common multiset bigrams >= max(L)-1-q*k) must
    not drop any true edit-distance<=2 pair: compare the blocked Spark query
    against a brute-force python levenshtein over a randomized dictionary of
    near-miss strings (substitutions, insertions, deletions, swaps)."""
    import random

    from hri_flink_validation_passthrough_spark.operators import linkage

    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(
                    min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb))
                )
            prev = cur
        return prev[-1]

    rng = random.Random(7)
    alpha = "abcdef"
    bases = ["".join(rng.choice(alpha) for _ in range(rng.randint(6, 12))) for _ in range(25)]
    names = set(bases)
    for s in bases:
        for _ in range(3):  # perturb within <=2 edits
            t = list(s)
            for _ in range(rng.randint(1, 2)):
                op = rng.choice("sid")
                p = rng.randrange(len(t))
                if op == "s":
                    t[p] = rng.choice(alpha)
                elif op == "i":
                    t.insert(p, rng.choice(alpha))
                elif len(t) > linkage.FUZZY_MIN_LEN:
                    del t[p]
            names.add("".join(t))
    names = sorted(n for n in names if len(n) >= linkage.FUZZY_MIN_LEN)

    # two copies of one name exercise the same-name (distance 0) branch
    rows = [(i, n) for i, n in enumerate(names)] + [(9999, names[0])]
    df = spark.createDataFrame(rows, "p_partkey long, p_name string")

    import unittest.mock as mock

    with mock.patch.object(linkage, "load_table", lambda _s, _d, _n: df):
        got = {
            (r["name_a"], r["name_b"]): (r["edit_distance"], r["n_part_pairs"])
            for r in linkage.fuzzy_part_match_blocked(spark, "unused").collect()
        }

    expect = {}
    for i, a in enumerate(names):
        for b in names[i + 1 :]:
            d = lev(a, b)
            if d <= linkage.FUZZY_K:
                expect[(a, b)] = (d, 1 if a != names[0] and b != names[0] else 2)
    expect[(names[0], names[0])] = (0, 1)
    assert got == expect


def test_ewma_block_size_invariance(spark):
    """Changing the block length must not change the EWMA (the blocking is an
    execution detail, not a semantic knob): B=16 vs B=8 agree to 1e-9 on
    sf0.001, far tighter than the output rounding."""
    import unittest.mock as mock

    from hri_flink_validation_passthrough_spark.operators import analytics

    sf = "/root/testdata/sf0.001"

    def run():
        return {
            (r["user_id"], r["event_id"]): r["ewma"]
            for r in analytics.events_ewma_blocked(spark, sf).collect()
        }

    base = run()
    # halving the block length doubles the carry depth so the truncation
    # horizon (CARRY * B rows) is identical — only then are the two
    # configurations the same algebra
    with mock.patch.object(analytics, "EWMA_B", 8), mock.patch.object(
        analytics, "EWMA_CARRY", 6
    ):
        alt = run()
    assert base.keys() == alt.keys()
    assert all(abs(base[k] - alt[k]) < 1e-9 + 1e-4 for k in base)
    # the two runs round identically except possibly AT the nudged boundary;
    # require near-universal exact agreement
    diff = sum(1 for k in base if base[k] != alt[k])
    assert diff <= len(base) // 1000


def test_bloom_false_positive_rate_is_near_theory(spark):
    """Probe the bloom bitmap with grams that are NOT in the member set: the
    pass fraction must stay under ~3x the theoretical (1-e^(-kn/m))^k bound
    (statistical, generous margin), proving the bitmap actually filters."""
    import math

    from pyspark.sql import functions as F

    from hri_flink_validation_passthrough_spark.operators.linkage import (
        BLOOM_BITS,
        BLOOM_K,
        BLOOM_WORDS,
    )

    members = [f"member-gram-{i}" for i in range(3000)]
    probes = [f"probe-gram-{i}" for i in range(20000)]
    mdf = spark.createDataFrame([(g,) for g in members], "g string")

    pos = mdf.select(
        F.explode(
            F.array(
                *[
                    F.pmod(F.xxhash64(F.lit(i), F.col("g")), F.lit(BLOOM_BITS))
                    for i in range(BLOOM_K)
                ]
            )
        ).alias("p")
    )
    words = (
        pos.select(
            F.expr("cast(p div 64 as int)").alias("w"),
            F.expr("shiftleft(cast(1 as bigint), cast(p % 64 as int))").alias("m"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(m)").alias("mask"))
        .collect()
    )
    bitmap = [0] * BLOOM_WORDS
    for r in words:
        bitmap[r["w"]] = r["mask"]

    probe = spark.createDataFrame([(g,) for g in probes], "g string").withColumn(
        "_bm", F.lit(bitmap).cast("array<bigint>")
    )
    for i in range(BLOOM_K):
        probe = probe.withColumn(
            f"_h{i}", F.pmod(F.xxhash64(F.lit(i), F.col("g")), F.lit(BLOOM_BITS))
        )
    cond = " AND ".join(
        f"(shiftright(element_at(_bm, cast(_h{i} div 64 as int) + 1),"
        f" cast(_h{i} % 64 as int)) & 1) = 1"
        for i in range(BLOOM_K)
    )
    fp = probe.filter(F.expr(cond)).count() / len(probes)
    theory = (1 - math.exp(-BLOOM_K * len(members) / BLOOM_BITS)) ** BLOOM_K
    assert fp <= max(3 * theory, 5e-4), (fp, theory)


def test_equi_depth_bins_are_balanced(spark):
    """Every decile bin holds n/10 rows within the tie-induced slack, bins
    partition the table exactly, and price ranges are disjoint/ordered."""
    from hri_flink_validation_passthrough_spark.operators.analytics import (
        equi_depth_histogram,
    )

    rows = sorted(
        equi_depth_histogram(spark, "/root/testdata/sf0.01").collect(),
        key=lambda r: r["bin"],
    )
    n = sum(r["n_rows"] for r in rows)
    assert n == 60_000 and [r["bin"] for r in rows] == list(range(10))
    for r in rows:
        assert abs(r["n_rows"] - n / 10) <= 5  # near-unique prices -> tiny slack
    for lo, hi in zip(rows, rows[1:]):
        assert lo["max_price"] <= hi["min_price"]


def test_holt_winters_matches_exact_recurrence(spark):
    """The 4-block matrix-carry truncation in holt_winters_level_trend must
    stay within 1e-6 of the TRUE sequential Holt-Winters recurrence
    (l_t = a*y + (1-a)(l+b); b_t = g*(l_t - l_prev) + (1-g)*b), computed
    here row-by-row in Python over the same densified hourly series."""
    from datetime import timedelta

    from hri_flink_validation_passthrough_spark.operators.analytics import (
        HW_ALPHA,
        HW_BETA,
        holt_winters_level_trend,
    )
    from hri_flink_validation_passthrough_spark.session import load_table, prepare

    sf_dir = "/root/testdata/sf0.001"
    prepare(spark)
    e = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    hourly = {
        (r["event_type"], r["hr"]): float(r["n"])
        for r in e.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
        .collect()
    }
    # densify + exact recurrence per type
    want: dict[tuple[str, object], tuple[float, float]] = {}
    types = sorted({k[0] for k in hourly})
    for t in types:
        hrs = sorted(h for (tt, h) in hourly if tt == t)
        lo, hi = hrs[0], hrs[-1]
        lvl = trd = None
        h = lo
        while h <= hi:
            y = hourly.get((t, h), 0.0)
            if lvl is None:
                lvl, trd = y, 0.0
            else:
                prev = lvl
                lvl = HW_ALPHA * y + (1 - HW_ALPHA) * (lvl + trd)
                trd = HW_BETA * (lvl - prev) + (1 - HW_BETA) * trd
            want[(t, h)] = (lvl, trd)
            h += timedelta(hours=1)

    got = holt_winters_level_trend(spark, sf_dir).collect()
    assert len(got) > 0
    import datetime as dt

    for r in got:
        key = (
            r["event_type"],
            dt.datetime.strptime(r["block_end"], "%Y-%m-%d %H:%M:%S"),
        )
        wl, wt = want[key]
        scale = max(1.0, abs(wl), abs(wt))
        assert abs(r["level"] - wl) <= 1e-6 * scale + 1e-4, (key, r["level"], wl)
        assert abs(r["trend"] - wt) <= 1e-6 * scale + 1e-4, (key, r["trend"], wt)
        assert abs(r["forecast_1h"] - (wl + wt)) <= 1e-6 * scale + 2e-4


def test_dot_norm_unrolled_bit_identical_to_fold(spark):
    """The static-dim unrolled forms of dot/norm/cosine must be BIT-identical
    to the lambda-fold forms (same left-to-right addition order) — the PCA
    hot path relies on swapping one for the other without moving any oracle
    value. Checked over awkward floats (denormal-ish, huge, negative)."""
    from hri_flink_validation_passthrough_spark.functions import (
        cosine_similarity,
        dot,
        norm,
    )

    rows = [
        ([0.1, -2.5, 3.25, 1e-7], [7.0, 0.3, -1.125, 1e7]),
        ([1e100, 1.0, -1e100, 2.0], [1.0, 1e-3, 1.0, 0.5]),
        ([0.0, 0.0, 0.1, 0.2], [5.0, -5.0, 0.333333, 1.0]),
    ]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = df.select(
        (dot("a", "b") == dot("a", "b", dim=4)).alias("d"),
        (norm("a") == norm("a", dim=4)).alias("n"),
        (
            cosine_similarity("a", "b") == cosine_similarity("a", "b", dim=4)
        ).alias("c"),
    ).collect()
    for r in got:
        assert r["d"] and r["n"] and r["c"]


def test_floor_nudge_matches_inline_form_and_python_twin(spark):
    """r12 consolidation: floor_nudge/py_floor_nudge replaced ~18 inline
    copies of floor(x * 10^d + 0.500001) / 10^d — the helper must be
    bit-identical to the expression it replaced (including the half-up
    boundary behavior round() would get wrong) or every consolidated
    query's hash shifts."""
    from hri_flink_validation_passthrough_spark.functions import (
        floor_nudge,
        py_floor_nudge,
    )

    vals = [0.00005, 0.123456789, -1.5000004, 2.0, 0.49999999, 123.000049999]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    for d in (4, 6, 9):
        got = [
            r["n"]
            for r in df.select(
                floor_nudge(F.col("v"), d).alias("n")
            ).orderBy("v").collect()
        ]
        want = [
            r["n"]
            for r in df.select(
                (F.floor(F.col("v") * 10**d + F.lit(0.500001)) / 10**d).alias(
                    "n"
                )
            ).orderBy("v").collect()
        ]
        assert got == want, d
        assert got == sorted(
            (py_floor_nudge(v, d) for v in vals)
        ), f"python twin diverges at {d}"
    # the boundary case that motivated the rule: a value landing exactly on
    # the half grid resolves UP on both forms
    assert py_floor_nudge(0.00005, 4) == 0.0001


def test_with_session_ids_gap_rule(spark):
    """r12 consolidation: with_session_ids replaced the 4-site lag+running-
    sum construction. Pin the gap semantics: a gap STRICTLY greater than
    gap_s starts a new session; an exact-gap event continues."""
    import datetime as dt

    from hri_flink_validation_passthrough_spark.functions import (
        with_session_ids,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        ("u1", t0, 1),
        ("u1", t0 + dt.timedelta(seconds=1800), 2),  # exact gap: same sess
        ("u1", t0 + dt.timedelta(seconds=3601), 3),  # 1801s gap: new sess
        ("u2", t0, 4),  # other user: own first session
    ]
    df = spark.createDataFrame(rows, "user_id string, ts timestamp, event_id long")
    got = {
        (r["user_id"], r["event_id"]): r["sess_id"]
        for r in with_session_ids(df, 1800).collect()
    }
    assert got == {
        ("u1", 1): 1,
        ("u1", 2): 1,
        ("u1", 3): 2,
        ("u2", 4): 1,
    }
    assert "new_sess" not in with_session_ids(df, 1800).columns


def test_with_session_ids_randomized_differential(spark):
    """Seeded randomized differential for the shared sessionize helper
    (r12 — it backs 4 registered queries): arbitrary event sets with
    duplicate timestamps, exact-gap edges, and interleaved users must
    match a pure-Python sequential reference of the same rule (new
    session when gap > gap_s; sess_id = running count of starts per
    user, ordered by (ts, event_id))."""
    import datetime as dt
    import random

    from hri_flink_validation_passthrough_spark.functions import (
        with_session_ids,
    )

    gap_s = 600
    t0 = dt.datetime(2024, 3, 1)
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        rows = []
        eid = 0
        for _ in range(250):
            eid += 1
            user = f"u{rng.randint(1, 6)}"
            # cluster offsets so exact-gap and duplicate-ts cases occur
            off = rng.choice(
                [0, 1, gap_s - 1, gap_s, gap_s + 1, 5000, 20000]
            ) + rng.randint(0, 3) * gap_s * 4
            rows.append((user, t0 + dt.timedelta(seconds=off), eid))

        # python reference: per-user sequential scan in (ts, event_id) order
        want = {}
        by_user: dict = {}
        for user, ts, e in rows:
            by_user.setdefault(user, []).append((ts, e))
        for user, evs in by_user.items():
            evs.sort()
            sess, last = 0, None
            for ts, e in evs:
                if last is None or (ts - last).total_seconds() > gap_s:
                    sess += 1
                last = ts
                want[(user, e)] = sess

        df = spark.createDataFrame(
            rows, "user_id string, ts timestamp, event_id long"
        )
        got = {
            (r["user_id"], r["event_id"]): r["sess_id"]
            for r in with_session_ids(df, gap_s).collect()
        }
        assert got == want, f"seed {seed}"
