"""Time-series / distribution analytics built on shuffle-lean plans.

Three operators whose *naive* formulation is a global sort or a per-key
sequential scan — the classic "works on a laptop, dies on a cluster" shapes —
re-expressed as bounded-partition algebra:

- ``max_concurrent_sessions`` — interval-overlap sweep line (±1 deltas +
  running sum) where the running sum is a **two-level prefix sum** over day
  buckets: intra-day windows run in parallel, and only the one-row-per-day
  summary is scanned to produce cross-bucket offsets. A flat
  ``Window.orderBy(t)`` would drag every event through one task.
- ``events_ewma_blocked`` — exponentially weighted moving average per key.
  The recurrence ``e_i = a*x_i + (1-a)*e_{i-1}`` is not a plain prefix sum,
  and the closed-form trick ``(1-a)^i * cumsum(x_t*(1-a)^-t)`` overflows
  double for sequences past ~5000 rows. Blocked form: exact closed form
  *within* 16-row blocks (exponent <= 15), plus the analytically-decayed
  carry of the previous <=3 block-end values — terms from older blocks decay
  below 1e-10 and are dropped. O(1) numeric range at any sequence length,
  zero Python, no per-key serial scan longer than a block.
- ``equi_depth_histogram`` — exact decile binning without a global sort:
  a distinct-value count histogram, its cumulative form via the same
  two-level prefix-sum shape (coarse value-range buckets), boundary_k =
  min value with 10*cum >= k*n (integer algebra — no float percentile
  semantics to disagree on across engines), and map-side bin assignment
  against the broadcast 9-value boundary list. At 100 TB you would swap the
  exact boundary job for approx_percentile; the binning pass is unchanged.

Reference parity note: the reference engine (Alvearie
hri-flink-validation-passthrough, PassthroughStreamingJob.java:1) has no
analytics surface; these are SURVEY.md §2 north-star extensions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import floor_nudge, with_session_ids
from ..plans import QuerySpec, register
from ..session import load_table, session_memo
from ..materialize import cut

QUERIES: dict[str, QuerySpec] = {}

SESSION_GAP_S = 1800  # 30-min inactivity gap (same rule as events_sessionize)

EWMA_ALPHA = 0.3
EWMA_D = 1.0 - EWMA_ALPHA
EWMA_B = 16  # block length: intra-block exponents stay in [-15, 15]
# Carry depth 3: the dropped tail is bounded by d^(3B) ~= 0.7^48 ~= 4e-8 of
# the oldest retained magnitude — invisible at round(4). The ORACLE computes
# the same truncated formula (it is deterministic algebra, not an engine
# artifact); tests/test_functions.py checks the truncation against the true
# recursive EWMA to 1e-6.
EWMA_CARRY = 3

HIST_BINS = 10


def _fmt(col):
    return F.date_format(col, "yyyy-MM-dd HH:mm:ss")


# Session intervals shared by the sweep line: 30-min-gap sessionization,
# identical rule to plans/relational.events_sessionize.
_SQL_SESSIONS = f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess_id
      FROM flagged
    ), si AS (
      SELECT user_id, sess_id, min(ts) AS t_start, max(ts) AS t_end
      FROM sess GROUP BY user_id, sess_id
    )
"""


@register(
    QUERIES,
    "max_concurrent_sessions",
    oracle=f"""
    {_SQL_SESSIONS},
    d AS (
      SELECT t_start AS t, 1 AS delta, user_id, sess_id FROM si
      UNION ALL
      SELECT t_end, -1, user_id, sess_id FROM si
    ), r AS (
      SELECT t, sum(delta) OVER (ORDER BY t, delta DESC, user_id, sess_id
                                 ROWS UNBOUNDED PRECEDING) AS conc
      FROM d
    )
    SELECT strftime(date_trunc('hour', t), '%Y-%m-%d %H:%M:%S') AS hour,
           CAST(max(conc) AS BIGINT) AS max_concurrent
    FROM r GROUP BY 1
    """,
    doc="Peak concurrent sessions per hour: sessionize (30-min gap), emit "
    "+1/-1 interval endpoints, global running sum via two-level prefix sum "
    "(intra-day windows in parallel + one-row-per-day offset scan), max per "
    "hour. Endpoint tie rule: starts sort before ends at the same instant "
    "(touching sessions count as concurrent); the per-hour max is invariant "
    "to ordering among equal (t, delta) rows, so both engines agree.",
)
def max_concurrent_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sess = with_session_ids(e, SESSION_GAP_S)
    si = sess.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("t_start"), F.max("ts").alias("t_end")
    )
    # one sessionize pass: each interval explodes into its +1/-1 endpoint
    # rows in-row (a union of two selects over `si` would re-run the whole
    # per-user window computation once per branch — found by the r5 scan
    # sweep: 4 events scans, now 1)
    deltas = si.select(
        "user_id",
        "sess_id",
        F.explode(
            F.array(
                F.struct(F.col("t_start").alias("t"), F.lit(1).alias("delta")),
                F.struct(F.col("t_end").alias("t"), F.lit(-1).alias("delta")),
            )
        ).alias("x"),
    ).select(F.col("x.t").alias("t"), F.col("x.delta").alias("delta"), "user_id", "sess_id")

    # Two-level prefix sum for the global running concurrency: day buckets
    # respect the (t, ...) order, so intra-bucket running sums plus the
    # cumulative sum of whole-bucket totals equal the flat global window the
    # oracle uses. The offsets window runs over ONE ROW PER DAY — thousands
    # of rows at a century of data, never the event count.
    day = F.date_trunc("day", F.col("t"))
    deltas = deltas.withColumn("day", day)
    w_in = Window.partitionBy("day").orderBy(
        "t", F.col("delta").desc(), "user_id", "sess_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    intra = deltas.withColumn("intra", F.sum("delta").over(w_in))
    day_tot = deltas.groupBy("day").agg(F.sum("delta").alias("day_sum"))
    w_off = Window.orderBy("day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = day_tot.withColumn(
        "off", F.coalesce(F.sum("day_sum").over(w_off), F.lit(0))
    ).select("day", "off")
    conc = intra.join(F.broadcast(offsets), "day").withColumn(
        "conc", F.col("intra") + F.col("off")
    )
    return (
        conc.groupBy(_fmt(F.date_trunc("hour", F.col("t"))).alias("hour"))
        .agg(F.max("conc").cast("long").alias("max_concurrent"))
    )


def _ewma_oracle() -> str:
    a, d, b = EWMA_ALPHA, EWMA_D, EWMA_B
    return f"""
    WITH o AS (
      SELECT user_id, event_id, value, ts,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn
      FROM events
    ), bl AS (
      SELECT user_id, event_id, rn, rn // {b} AS blk, rn % {b} AS l,
             CASE WHEN rn = 0 THEN 1.0 ELSE {a} END * value
               * power({d}, -(rn % {b})) AS u
      FROM o
    ), ac AS (
      SELECT user_id, event_id, blk, l,
             power({d}, l) * sum(u) OVER (PARTITION BY user_id, blk ORDER BY rn
                                          ROWS UNBOUNDED PRECEDING) AS acc
      FROM bl
    ), ae AS (
      SELECT user_id, blk, max_by(acc, l) AS a_end FROM ac GROUP BY 1, 2
    ), lg AS (
      SELECT user_id, blk,
             lag(a_end, 1) OVER (PARTITION BY user_id ORDER BY blk) AS p1,
             lag(a_end, 2) OVER (PARTITION BY user_id ORDER BY blk) AS p2,
             lag(a_end, 3) OVER (PARTITION BY user_id ORDER BY blk) AS p3
      FROM ae
    )
    SELECT ac.user_id, ac.event_id,
           floor((ac.acc
                 + power({d}, ac.l + 1) * coalesce(p1, 0)
                 + power({d}, ac.l + 1 + {b}) * coalesce(p2, 0)
                 + power({d}, ac.l + 1 + {2 * b}) * coalesce(p3, 0))
                 * 10000 + 0.500001) / 10000 AS ewma
    FROM ac JOIN lg ON ac.user_id = lg.user_id AND ac.blk = lg.blk
    """


@register(
    QUERIES,
    "events_ewma_blocked",
    oracle=_ewma_oracle(),
    doc="Per-user EWMA (alpha=0.3) of event values as a BLOCKED linear "
    "recurrence: exact closed form inside 16-row blocks (bounded "
    "exponents — the flat closed-form trick overflows past ~5k rows), "
    "previous block-end values carried with analytic decay, terms older "
    "than 3 blocks (< 1e-10 relative) dropped. The oracle computes the "
    "identical truncated algebra; truncation-vs-recursive error is "
    "asserted <= 1e-6 in tests/test_functions.py. No per-key serial scan "
    "longer than one block; all JVM window/pow algebra.",
)
def events_ewma_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.withColumn("rn", F.row_number().over(w) - 1).withColumn(
        "blk", F.expr(f"rn div {EWMA_B}")
    ).withColumn("l", F.col("rn") % EWMA_B)
    u = (
        F.when(F.col("rn") == 0, F.lit(1.0)).otherwise(F.lit(EWMA_ALPHA))
        * F.col("value")
        * F.pow(F.lit(EWMA_D), -F.col("l"))
    )
    wb = Window.partitionBy("user_id", "blk").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    ac = o.withColumn("u", u).withColumn(
        "acc", F.pow(F.lit(EWMA_D), F.col("l")) * F.sum("u").over(wb)
    )
    ae = ac.groupBy("user_id", "blk").agg(
        F.max_by("acc", "l").alias("a_end")
    )
    wl = Window.partitionBy("user_id").orderBy("blk")
    lg = ae.select(
        "user_id",
        "blk",
        *[
            F.lag("a_end", i).over(wl).alias(f"p{i}")
            for i in range(1, EWMA_CARRY + 1)
        ],
    )
    joined = ac.join(lg, ["user_id", "blk"])
    ewma = F.col("acc") + sum(
        (
            F.pow(F.lit(EWMA_D), F.col("l") + 1 + (i - 1) * EWMA_B)
            * F.coalesce(F.col(f"p{i}"), F.lit(0.0))
            for i in range(1, EWMA_CARRY + 1)
        ),
        start=F.lit(0.0),
    )
    # 4-decimal half-up via floor with a 1e-6 scaled nudge, NOT round():
    # 2-decimal inputs times powers of 0.7 produce values that terminate
    # EXACTLY on the .00005 boundary (observed twice in 10k rows at
    # sf0.01), where the engines' window sums — Spark sequential, DuckDB
    # segment-tree — land on opposite sides by ~1e-15. The nudge is 4
    # orders above the float noise and 1+ below any non-boundary digit, so
    # both engines resolve every boundary value identically (upward).
    return joined.select(
        "user_id",
        "event_id",
        floor_nudge(ewma, 4).alias("ewma"),
    )


@register(
    QUERIES,
    "equi_depth_histogram",
    oracle=f"""
    WITH d AS (
      SELECT l_extendedprice AS v, count(*) AS cnt FROM lineitem GROUP BY 1
    ), c AS (
      SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
      FROM d
    ), n AS (SELECT count(*) AS n FROM lineitem),
    b AS (
      SELECT k, min(v) AS bv
      FROM c, n, (SELECT unnest(range(1, {HIST_BINS})) AS k) ks
      WHERE {HIST_BINS} * cum >= k * n
      GROUP BY k
    ), r AS (
      -- bin depends only on the value: assign over the distinct-value
      -- table (row identity is not unique in the driver data) and weight
      -- by multiplicity
      SELECT d.v, d.cnt,
             count(CASE WHEN b.bv < d.v THEN 1 END) AS bin
      FROM d CROSS JOIN b
      GROUP BY d.v, d.cnt
    )
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(sum(cnt) AS BIGINT)  AS n_rows,
           round(min(v), 2)          AS min_price,
           round(max(v), 2)          AS max_price,
           round(sum(v * cnt), 2)    AS sum_price
    FROM r GROUP BY bin
    """,
    doc="Exact equi-depth (decile) histogram of l_extendedprice with no "
    "global sort: distinct-value count histogram -> cumulative counts via "
    "two-level prefix sum over coarse value-range buckets (the offsets "
    "window scans one row per 1000-wide price band) -> boundary_k = min v "
    "with 10*cum >= k*n (pure integer comparison, so both engines pick "
    "identical boundaries; ties fall to the lower bin) -> map-side bin "
    "assignment against the broadcast 9-value boundary list. The 9 "
    "boundaries are a collected model artifact like the IVF centroids; at "
    "100 TB swap the boundary job for approx_percentile, binning unchanged.",
)
def equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    dist = li.groupBy(F.col("l_extendedprice").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Two-level cumulative count: coarse price bands are the outer level.
    dist = dist.withColumn("cb", F.floor(F.col("v") / 1000))
    w_in = Window.partitionBy("cb").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    intra = dist.withColumn("intra", F.sum("cnt").over(w_in))
    band = dist.groupBy("cb").agg(F.sum("cnt").alias("band_cnt"))
    w_off = Window.orderBy("cb").rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy("cb").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = band.select(
        "cb",
        F.coalesce(F.sum("band_cnt").over(w_off), F.lit(0)).alias("off"),
        F.sum("band_cnt").over(w_all).alias("n_total"),
    )
    cum = intra.join(F.broadcast(offsets), "cb").select(
        "v", (F.col("intra") + F.col("off")).alias("cum"), "n_total"
    )
    bounds = (
        cum.select(
            "v",
            "cum",
            "n_total",
            F.explode(F.sequence(F.lit(1), F.lit(HIST_BINS - 1))).alias("k"),
        )
        .filter(F.lit(HIST_BINS) * F.col("cum") >= F.col("k") * F.col("n_total"))
        .groupBy("k")
        .agg(F.min("v").alias("bv"))
        .collect()
    )
    # 9 doubles -> broadcast literal; binning is then a pure map-side
    # array_filter count inside whole-stage codegen.
    barr = F.lit([float(r["bv"]) for r in sorted(bounds, key=lambda r: r["k"])])
    bin_col = F.size(
        F.filter(barr, lambda b: F.col("l_extendedprice") > b)
    ).cast("long")
    return (
        li.withColumn("bin", bin_col)
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


MAD_SCALE = 1.4826  # consistency constant: MAD*1.4826 estimates sigma
MAD_CUT = 3.0


@register(
    QUERIES,
    "events_mad_outliers",
    oracle=f"""
    WITH med AS (
      SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), dev AS (
      SELECT e.event_id, e.user_id, e.event_type, e.value, m.med,
             abs(e.value - m.med) AS adev
      FROM events e JOIN med m USING (event_type)
    ), mad AS (
      SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_id, d.user_id, d.event_type,
           round(d.value, 2) AS value, round(d.med, 4) AS med,
           round(m.mad, 4) AS mad
    FROM dev d JOIN mad m USING (event_type)
    WHERE d.adev > {MAD_CUT} * {MAD_SCALE} * m.mad
    """,
    doc="Robust outlier detection per event type via median absolute "
    "deviation: |x - median| > 3 * 1.4826 * MAD (the robust z-score — "
    "immune to the outliers it hunts, unlike events_zscore_outliers' "
    "mean/stddev cut). Two exact-median passes with the per-type stats "
    "broadcast back; selection compares identically-derived doubles "
    "(interpolated medians are single (a+b)/2 ops, bit-equal across "
    "engines), so the row set is deterministic. At 100 TB swap the exact "
    "median for approx_percentile — the broadcast-back shape is unchanged.",
)
def events_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # 5 rows; its lineage is a full percentile pass and dev is consumed twice
    med = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med")
    ).transform(cut(eager=False))
    dev = e.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.col("adev") > MAD_CUT * MAD_SCALE * F.col("mad"))
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
        )
    )


# Column profiling (ANALYZE-style stats): per-column row/null/NDV counts and
# extrema — the numbers a cost-based optimizer's table statistics hold.
_PROFILE_NUM = ("o_orderkey", "o_custkey", "o_totalprice")
_PROFILE_TXT = ("o_orderstatus", "o_orderpriority")
_PROFILE_DT = ("o_orderdate",)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM:
        parts.append(f"""
        SELECT '{c}' AS col, count(*) AS n_rows,
               CAST(count(*) - count({c}) AS BIGINT) AS n_null,
               CAST(count(DISTINCT {c}) AS BIGINT)   AS ndv,
               CAST(min({c}) AS DOUBLE) AS min_num,
               CAST(max({c}) AS DOUBLE) AS max_num,
               CAST(NULL AS VARCHAR) AS min_txt, CAST(NULL AS VARCHAR) AS max_txt
        FROM orders""")
    for c in _PROFILE_TXT:
        parts.append(f"""
        SELECT '{c}', count(*), CAST(count(*) - count({c}) AS BIGINT),
               CAST(count(DISTINCT {c}) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               min({c}), max({c})
        FROM orders""")
    for c in _PROFILE_DT:
        parts.append(f"""
        SELECT '{c}', count(*), CAST(count(*) - count({c}) AS BIGINT),
               CAST(count(DISTINCT {c}) AS BIGINT),
               CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
               strftime(min({c}), '%Y-%m-%d %H:%M:%S'),
               strftime(max({c}), '%Y-%m-%d %H:%M:%S')
        FROM orders""")
    return " UNION ALL ".join(parts)


@register(
    QUERIES,
    "column_profile_stats",
    oracle=_profile_oracle(),
    doc="ANALYZE-style column profile of the orders table: per-column row "
    "count, null count, exact NDV, and typed extrema (numeric extrema as "
    "doubles, string/date extrema as text) — the statistics a CBO keeps. "
    "NDV is computed by the MELTED two-phase form — explode each row to "
    "(col, value) pairs, partial-aggregate to distinct pairs, count per "
    "col — after the r6 A/B measured it 2.7x faster at sf0.1 (best-of-3 "
    "1.17 s vs 3.15 s) than the n-way count_distinct single aggregate, "
    "whose Expand operator re-materializes the scan once per distinct "
    "column (see BASELINE.md r6). Base stats (counts/nulls/extrema) stay "
    "one scan; extrema are selections, not sums, so values are "
    "bit-identical across engines. At 100 TB swap exact NDV for "
    "approx_count_distinct — shapes unchanged.",
)
def column_profile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cols = _PROFILE_NUM + _PROFILE_TXT + _PROFILE_DT
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
            .cast("long")
            .alias(f"nn_{c}"),
            F.min(c).alias(f"mn_{c}"),
            F.max(c).alias(f"mx_{c}"),
        ]
    prof = o.agg(*aggs)
    # melted exact NDV: map-side partial aggregation collapses the 6x-row
    # explode to per-partition distinct (col, value) pairs before the
    # shuffle; cast-to-string is injective for every profiled type
    pairs = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"), F.col(c).cast("string").alias("v")
                    )
                    for c in cols
                ]
            )
        ).alias("p")
    ).select("p.*")
    ndv = (
        pairs.where(F.col("v").isNotNull())
        .distinct()
        .groupBy("col")
        .agg(F.count(F.lit(1)).alias("ndv"))
    )

    def _row(c: str, kind: str):
        num = kind == "num"
        return F.struct(
            F.lit(c).alias("col"),
            F.col("n").alias("n_rows"),
            F.col(f"nn_{c}").alias("n_null"),
            (F.col(f"mn_{c}").cast("double") if num else F.lit(None).cast("double")).alias("min_num"),
            (F.col(f"mx_{c}").cast("double") if num else F.lit(None).cast("double")).alias("max_num"),
            (
                F.lit(None).cast("string")
                if num
                else F.date_format(f"mn_{c}", "yyyy-MM-dd HH:mm:ss")
                if kind == "dt"
                else F.col(f"mn_{c}")
            ).alias("min_txt"),
            (
                F.lit(None).cast("string")
                if num
                else F.date_format(f"mx_{c}", "yyyy-MM-dd HH:mm:ss")
                if kind == "dt"
                else F.col(f"mx_{c}")
            ).alias("max_txt"),
        )

    rows = (
        [_row(c, "num") for c in _PROFILE_NUM]
        + [_row(c, "txt") for c in _PROFILE_TXT]
        + [_row(c, "dt") for c in _PROFILE_DT]
    )
    base = prof.select(F.explode(F.array(*rows)).alias("s")).select("s.*")
    # a fully-null column has no (col, value) pairs — left join, NDV 0
    return base.join(F.broadcast(ndv), "col", "left").select(
        "col",
        "n_rows",
        "n_null",
        F.coalesce(F.col("ndv"), F.lit(0)).cast("long").alias("ndv"),
        "min_num",
        "max_num",
        "min_txt",
        "max_txt",
    )


# The 100 TB form of the profile above (r9 verdict ask #7): exact NDV is the
# sf0.1 form; at scale ANALYZE uses a sketch. approx_count_distinct itself is
# engine-specific (never hash-checkable), so the executable scale posture
# uses the repo's PORTABLE HyperLogLog (operators/text.py: md5-prefix
# registers, integer-rational harmonic sum) over canonicalized value strings
# — hash-checked end to end instead of rows-only.


def _profile_canon_spark(c: str):
    """Deterministic cross-engine string form of a profiled column — the
    HLL hash input must be byte-identical in both engines, and plain
    double->string casts are NOT (Java shortest-roundtrip vs DuckDB): the
    double price goes through DECIMAL(18,2); timestamps through the repo's
    standard date_format; ints/strings cast directly."""
    if c == "o_totalprice":
        return F.col(c).cast("decimal(18,2)").cast("string")
    if c in _PROFILE_DT:
        return F.date_format(F.col(c), "yyyy-MM-dd HH:mm:ss")
    return F.col(c).cast("string")


def _profile_canon_sql(c: str) -> str:
    if c == "o_totalprice":
        return f"CAST(CAST({c} AS DECIMAL(18,2)) AS VARCHAR)"
    if c in _PROFILE_DT:
        return f"strftime({c}, '%Y-%m-%d %H:%M:%S')"
    return f"CAST({c} AS VARCHAR)"


def _profile_approx_oracle() -> str:
    from .text import HLL_M, _hll_est_sql

    pairs = " UNION ALL ".join(
        f"SELECT '{c}' AS col, {_profile_canon_sql(c)} AS v "
        f"FROM orders WHERE {c} IS NOT NULL"
        for c in _PROFILE_NUM + _PROFILE_TXT + _PROFILE_DT
    )
    return f"""
    WITH pairs AS ({pairs}
    ), h AS (
      SELECT col, ('0x' || substr(md5(v), 1, 15))::BIGINT AS hv FROM pairs
    ), rho AS (
      SELECT col, hv % {HLL_M} AS bucket,
             max(CASE WHEN hv // {HLL_M} = 0 THEN 51
                      ELSE 51 - length(bin(hv // {HLL_M})) END) AS reg
      FROM h GROUP BY 1, 2
    ), grid AS (
      SELECT col, unnest(range({HLL_M})) AS bucket
      FROM (SELECT DISTINCT col FROM pairs)
    ), regs AS (
      SELECT g.col, g.bucket, coalesce(r.reg, 0) AS reg
      FROM grid g LEFT JOIN rho r ON r.col = g.col AND r.bucket = g.bucket
    ), agg AS (
      SELECT col,
             CAST(sum(1::BIGINT << (51 - reg)) AS BIGINT) AS s_harm,
             CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_zero
      FROM regs GROUP BY 1
    ), ex AS (
      SELECT col, CAST(count(DISTINCT v) AS BIGINT) AS ndv_exact
      FROM pairs GROUP BY 1
    ), est AS (
      SELECT a.col, e.ndv_exact, a.v_zero, a.s_harm,
             {_hll_est_sql("s_harm", "v_zero")} AS raw
      FROM agg a JOIN ex e ON e.col = a.col
    )
    SELECT col, ndv_exact, v_zero, s_harm,
           round(raw, 4) AS ndv_approx,
           round((raw - ndv_exact) / ndv_exact, 6) AS rel_error
    FROM est
    """


@register(
    QUERIES,
    "column_profile_stats_approx",
    oracle=_profile_approx_oracle(),
    doc="The 100 TB twin of column_profile_stats' NDV column, executable "
    "rather than prose: per-column approximate NDV via the repo's PORTABLE "
    "HyperLogLog (m=1024, md5-prefix registers, integer-rational harmonic "
    "sum — hash-checked cross-engine, standing in for the "
    "approx_count_distinct a production ANALYZE runs), reported against "
    "the exact NDV with relative error. Values are canonicalized to "
    "deterministic strings first (DECIMAL(18,2) for the double price, "
    "date_format for timestamps) because raw double->string casts differ "
    "across engines. One melt + one map-side-combined register "
    "aggregation; per-column state is m longs, mergeable by cell-wise MAX "
    "across partitions/days — at 100 TB this replaces the melted exact "
    "DISTINCT shuffle with sketch merges. Exercises both estimator "
    "branches (linear counting for low-NDV columns, raw harmonic for "
    "o_orderkey).",
)
def column_profile_stats_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import _hll_readout, _hll_reg_table

    o = load_table(spark, sf_dir, "orders")
    cols = _PROFILE_NUM + _PROFILE_TXT + _PROFILE_DT
    pairs = (
        o.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            _profile_canon_spark(c).alias("v"),
                        )
                        for c in cols
                    ]
                )
            ).alias("p")
        )
        .select("p.*")
        .where(F.col("v").isNotNull())
    )
    # the HLL register helpers are keyed on (event_type, user_id) — feed
    # the melted pairs under those names, then the shared estimator readout
    # (_hll_readout, the one source of truth for the estimate/error tail)
    # runs under the profile's column names
    e = pairs.select(
        F.col("col").alias("event_type"), F.col("v").alias("user_id")
    )
    regs = _hll_reg_table(e).withColumnRenamed("event_type", "col")
    ex = pairs.distinct().groupBy("col").agg(
        F.count(F.lit(1)).cast("long").alias("ndv_exact")
    )
    # the exact side derives from a wide melt+distinct whose size estimate
    # can miss the auto-broadcast threshold: hint the 9-row table explicitly
    return _hll_readout(
        regs, F.broadcast(ex), group="col", exact="ndv_exact", est="ndv_approx"
    )


# Pairwise statistics: one scan computes the full correlation upper triangle.
_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")


@register(
    QUERIES,
    "numeric_corr_matrix",
    oracle="WITH s AS (SELECT count(*) AS n, "
    + ", ".join(
        f"sum({c}) AS s_{c}, sum({c} * {c}) AS ss_{c}" for c in _CORR_COLS
    )
    + ", "
    + ", ".join(
        f"sum({a} * {b}) AS p_{a}_{b}"
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    )
    + " FROM lineitem) "
    + " UNION ALL ".join(
        f"""
        SELECT '{a}' AS col_a, '{b}' AS col_b,
               CASE WHEN (n * ss_{a} - s_{a} * s_{a})
                         * (n * ss_{b} - s_{b} * s_{b}) > 0
                    THEN round((n * p_{a}_{b} - s_{a} * s_{b})
                               / sqrt((n * ss_{a} - s_{a} * s_{a})
                                      * (n * ss_{b} - s_{b} * s_{b})), 6)
                    END AS pearson_r
        FROM s"""
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ),
    doc="Pearson correlation matrix (upper triangle) over lineitem's numeric "
    "measures, all 6 pairs in ONE aggregation pass — the feature-screening "
    "scan an ML pipeline runs before training. Correlations come from raw "
    "sufficient statistics (n, Sa, Sb, Saa, Sbb, Sab — 15 map-side-combined "
    "sums in one scan) with r = (n*Sab - Sa*Sb)/sqrt((n*Saa - Sa^2)(n*Sbb - "
    "Sb^2)) as closed algebra, NOT the engines' corr() aggregates: their "
    "streaming co-moment updates differ in association order across "
    "engines, a rounding-boundary hash risk (COVERAGE.md r11 addendum 5); "
    "the explicit form puts the same FINAL algebra on both sides, which "
    "REDUCES the round(.,6) boundary risk but does not eliminate it — the "
    "15 double sums are still partition-order-dependent per engine, and "
    "the raw-moment form n*Saa - Sa^2 is worse-conditioned than a shifted "
    "co-moment (cancellation grows with n and column magnitude; at large "
    "SF, pre-center the columns with a first-pass mean before the moment "
    "sums — the scale lever, not needed at driver SFs). Zero-variance "
    "pairs return NULL on both engines (guarded CASE, ADVICE r12). "
    "Superseded in r12.",
)
def numeric_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1 :]
    ]
    agg = li.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(c).alias(f"s_{c}") for c in _CORR_COLS],
        *[F.sum(F.col(c) * F.col(c)).alias(f"ss_{c}") for c in _CORR_COLS],
        *[
            F.sum(F.col(a) * F.col(b)).alias(f"p_{a}_{b}")
            for a, b in pairs
        ],
    )

    def _r(a: str, b: str):
        n = F.col("n")
        cov = n * F.col(f"p_{a}_{b}") - F.col(f"s_{a}") * F.col(f"s_{b}")
        var_a = n * F.col(f"ss_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")
        var_b = n * F.col(f"ss_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")
        # zero-variance guard (ADVICE r12): on a constant column Spark's
        # Divide yields NULL while DuckDB's ieee division yields NaN/Inf —
        # the same CASE in both expressions makes both engines return NULL
        # on a degenerate corpus instead of diverging.
        return F.when(var_a * var_b > 0, cov / F.sqrt(var_a * var_b))

    rows = [
        F.struct(
            F.lit(a).alias("col_a"),
            F.lit(b).alias("col_b"),
            F.round(_r(a, b), 6).alias("pearson_r"),
        )
        for a, b in pairs
    ]
    return agg.select(F.explode(F.array(*rows)).alias("s")).select("s.*")


@register(
    QUERIES,
    "ols_price_on_quantity",
    oracle="""
    WITH s AS (
      SELECT l_returnflag,
             count(*)                        AS n,
             sum(l_quantity)                 AS sx,
             sum(l_extendedprice)            AS sy,
             sum(l_quantity * l_quantity)    AS sxx,
             sum(l_quantity * l_extendedprice) AS sxy
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, CAST(n AS BIGINT) AS n,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4)
             AS intercept
    FROM s
    """,
    doc="Grouped ordinary-least-squares fit (price ~ quantity per return "
    "flag) from raw sufficient statistics: one map-side-combined "
    "aggregation collects (n, Sx, Sy, Sxx, Sxy), slope/intercept are "
    "closed-form algebra over the 3-row result — distributed regression "
    "with zero iterations, the normal-equations shape that scales to any "
    "row count. Both engines compute the identical formula over the same "
    "sums, so results agree to float noise, far under round(4).",
)
def ols_price_on_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum("l_quantity").alias("sx"),
        F.sum("l_extendedprice").alias("sy"),
        F.sum(F.col("l_quantity") * F.col("l_quantity")).alias("sxx"),
        F.sum(F.col("l_quantity") * F.col("l_extendedprice")).alias("sxy"),
    )
    slope = (F.col("nn") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("nn") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "l_returnflag",
        F.col("nn").cast("long").alias("n"),
        F.round(slope, 4).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("nn"), 4).alias(
            "intercept"
        ),
    )


BASKET_MIN_CO = 5  # minimum co-order support
BASKET_TOP = 20


@register(
    QUERIES,
    "market_basket_lift",
    oracle=f"""
    WITH li AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM li),
    item AS (SELECT l_partkey, count(*) AS n_i FROM li GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS n_co
      FROM li a JOIN li b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= {BASKET_MIN_CO}
    )
    SELECT part_a, part_b, CAST(n_co AS BIGINT) AS n_co,
           round(CAST(n_co * n_orders AS DOUBLE) / (ia.n_i * ib.n_i), 4) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN n
    ORDER BY lift DESC, n_co DESC, part_a, part_b
    LIMIT {BASKET_TOP}
    """,
    doc="Market-basket association mining: top-20 part pairs by LIFT "
    "(co-order frequency over independence) with support >= 5 co-orders. "
    "Pair generation is a per-basket self-join — O(sum basket²), bounded "
    "by basket width (4-7 items), never corpus size; item counts are a "
    "bounded part dictionary broadcast back, and the final top-k is a "
    "TakeOrderedAndProject heap, no global sort. Lift divides exact "
    "integers once, so both engines produce bit-identical doubles.",
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the deduped basket table is consumed FOUR times (order count, item
    # counts, both self-join sides) — persist it so the scan+distinct runs
    # once (r5 scan sweep: 5 lineitem scans, now 1)
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
        # cut() = the repo-wide materialization policy (materialize.py;
        # r12 verdict ask #2 promoted this from a documented convention
        # to a switch): default "ckpt" localCheckpoints — a per-call
        # persist with no unpersist pins a lineitem-distinct-sized cache
        # entry for the whole session (the frequent_triples_apriori
        # fix), while checkpointed blocks are reference-released by the
        # ContextCleaner. localCheckpoint severs lineage onto
        # NON-replicated executor blocks — right on a single box; a
        # cluster deployment that needs in-query fault tolerance sets
        # SPARK_GRAFT_MATERIALIZE=reliable (DFS checkpoint) without
        # touching any call site. Arms pinned frame-equal in
        # tests/test_materialize.py.
        .transform(cut())
    )
    n_orders = li.select(
        F.count_distinct("l_orderkey").alias("n_orders")
    )
    item = li.groupBy(F.col("l_partkey")).agg(F.count(F.lit(1)).alias("n_i"))
    a, b = li.alias("a"), li.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_co"))
        .filter(F.col("n_co") >= BASKET_MIN_CO)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n_i").alias("nia"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n_i").alias("nib"))
    # decimal(19,0) operands, never raw int64 products (the gini/lorenz
    # r7 rule): at the 100 TB posture n_co * n_orders wraps int64 and the
    # double cast would launder the wrapped value; at test scale the
    # decimal quotient is bit-identical to the int64 one
    lift = (
        F.col("n_co").cast("decimal(19,0)")
        * F.col("n_orders").cast("decimal(19,0)")
    ).cast("double") / (
        F.col("nia").cast("decimal(19,0)")
        * F.col("nib").cast("decimal(19,0)")
    ).cast("double")
    return (
        pair.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            F.col("n_co").cast("long").alias("n_co"),
            F.round(lift, 4).alias("lift"),
        )
        .orderBy(
            F.col("lift").desc(), F.col("n_co").desc(), "part_a", "part_b"
        )
        .limit(BASKET_TOP)
    )


# Time-series subsequence similarity (UCR-style z-normalized Euclidean):
# find where the hourly event-count series looks like a query pattern.
TS_W = 8
TS_TOP = 5
TS_QUERY = [1.0, 1.0, 3.0, 9.0, 3.0, 1.0, 1.0, 1.0]  # a spike shape


def _ts_query_z() -> list[float]:
    m = sum(TS_QUERY) / TS_W
    sd = (sum((x - m) ** 2 for x in TS_QUERY) / TS_W) ** 0.5
    return [(x - m) / sd for x in TS_QUERY]


def _ts_oracle() -> str:
    qz = "[" + ",".join(repr(v) for v in _ts_query_z()) + "]"
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
    ), grid AS (
      -- densify: a window is 8 consecutive CLOCK hours, so zero-event
      -- hours are materialized as 0 instead of silently stitched across
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM span
    ), dense AS (
      SELECT g.event_type, g.hr, coalesce(h.n, 0.0) AS n
      FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hr = h.hr
    ), s AS (
      SELECT event_type, hr,
             list(n) OVER (PARTITION BY event_type ORDER BY hr
                           ROWS BETWEEN CURRENT ROW AND {TS_W - 1} FOLLOWING) AS arr
      FROM dense
    ), f AS (
      SELECT * FROM s WHERE len(arr) = {TS_W}
    ), z AS (
      SELECT event_type, hr, arr, list_avg(arr) AS m,
             sqrt(list_sum(list_transform(arr,
                 x -> (x - list_avg(arr)) * (x - list_avg(arr)))) / {TS_W}) AS sd
      FROM f
    ), d AS (
      -- round BEFORE ranking: distinct windows can have exactly equal true
      -- distances (identical normalized shapes), where raw-float ordering
      -- breaks the tie by engine noise; rounded-6 ties fall to the hr
      -- tiebreak identically in both engines
      SELECT event_type, hr,
             round(sqrt(list_sum(list_transform(list_zip(
                 list_transform(arr, x -> (x - m) / sd), {qz}),
               p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS dist
      FROM z WHERE sd > 0
    ), r AS (
      SELECT event_type, hr, dist,
             row_number() OVER (PARTITION BY event_type ORDER BY dist, hr) AS rn
      FROM d
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           round(dist, 4) AS dist
    FROM r WHERE rn <= {TS_TOP}
    """


def _dense_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type hourly count series of events, DENSIFIED: zero-event hours are
    materialized as 0.0 via a per-type sequence(min,max,1h) grid, so ordered
    frames over the series cover clock hours, never stitched across gaps.
    The grid is hourly-aggregate-sized (span hours x types) —
    data-size-independent after the first groupBy.

    PERSISTED twice over: ``hourly`` because the grid construction (span)
    and the grid join both consume it, and the dense result because every
    caller fans out into several consumers (window + per-type aggregates).
    Without the persists each consumer re-runs the full events scan —
    8-12 base-table scans per query in the un-persisted plan, which at
    100 TB is the whole cost. The cached tables are hours x types rows.
    Session-memoized on ``events.parquet``, so the five callers share one
    copy and an in-place regeneration unpersists both tables."""
    return session_memo(spark, sf_dir, "events.parquet", _dense_hourly_build)[0]


def _dense_hourly_build(spark: SparkSession, sf_dir: str):
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.count(F.lit(1)).cast("double").alias("n")).persist()
    span = hourly.groupBy("event_type").agg(
        F.min("hr").alias("mn"), F.max("hr").alias("mx")
    )
    grid = span.select(
        "event_type",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias("hr"),
    )
    dense = (
        grid.join(hourly, ["event_type", "hr"], "left")
        .withColumn("n", F.coalesce("n", F.lit(0.0)))
        .persist()
    )
    # hourly rides the memo tuple so eviction unpersists it with dense
    return dense, hourly


@register(
    QUERIES,
    "ts_subsequence_match",
    oracle=_ts_oracle(),
    doc="Time-series subsequence similarity search (the UCR-suite shape): "
    "slide an 8-hour window over each event type's DENSIFIED hourly count "
    "series (zero-event hours zero-filled via sequence(min,max,1h), so a "
    "window is 8 clock hours, never stitched across gaps), z-normalize "
    "every window, and rank by Euclidean distance to a z-normalized query "
    "pattern (a spike) — top-5 matches per series. "
    "Windows come from an ordered ROWS frame (O(W) per position, W "
    "constant), normalization and distance are array lambdas in codegen, "
    "ranking is a per-key window. Both engines build windows from the same "
    "ordered frame and evaluate the same left-to-right lambda sums, so "
    "distances are bit-identical and the top-5 cut is deterministic. At "
    "100 TB, series are partitioned by key and the frame never crosses "
    "executors; constant-width flat windows (zero-length runs aside) keep "
    "state O(W).",
)
def ts_subsequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_hourly(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(0, TS_W - 1)
    s = dense.withColumn("arr", F.collect_list("n").over(w)).filter(
        F.size("arr") == TS_W
    )
    zero = F.lit(0.0)
    mean = F.aggregate("arr", zero, lambda a, x: a + x) / TS_W
    z = s.withColumn("m", mean).withColumn(
        "sd",
        F.sqrt(
            F.aggregate(
                "arr", zero, lambda a, x: a + (x - F.col("m")) * (x - F.col("m"))
            )
            / TS_W
        ),
    )
    qz = F.lit(_ts_query_z())
    zarr = F.transform("arr", lambda x: (x - F.col("m")) / F.col("sd"))
    # rounded-6 before ranking — see the oracle's comment on equal-distance
    # windows; the hr tiebreak then decides identically in both engines
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with(zarr, qz, lambda a, b: (a - b) * (a - b)),
                zero,
                lambda a, x: a + x,
            )
        ),
        6,
    )
    d = z.filter(F.col("sd") > 0).withColumn("dist", dist)
    rw = Window.partitionBy("event_type").orderBy("dist", "hr")
    return (
        d.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") <= TS_TOP)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.round("dist", 4).alias("dist"),
        )
    )


CONV_TOL_S = 3600  # signup -> purchase conversion window (1 hour)


@register(
    QUERIES,
    "funnel_conversion_within_1h",
    oracle=f"""
    WITH s AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'signup'
    )
    SELECT strftime(date_trunc('hour', s.ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST(count(*) AS BIGINT) AS n_signups,
           CAST(count(CASE WHEN EXISTS (
             SELECT 1 FROM events p
             WHERE p.event_type = 'purchase' AND p.user_id = s.user_id
               AND p.ts >= s.ts
               AND p.ts <= s.ts + INTERVAL {CONV_TOL_S} SECOND
           ) THEN 1 END) AS BIGINT) AS n_converted
    FROM s GROUP BY 1
    """,
    doc="Time-constrained funnel conversion: per signup hour, how many "
    "signups saw a purchase by the same user within 1 hour. Composed from "
    "the FORWARD as-of join with tolerance (operators/asof.py) — the "
    "nearest following purchase either lands inside the window or no "
    "purchase does — so the conversion check is one union+window pass, "
    "not a per-signup EXISTS probe (which is how the oracle states it).",
)
def funnel_conversion_within_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .asof import asof_join

    e = load_table(spark, sf_dir, "events")
    signups = e.filter(F.col("event_type") == "signup").select(
        "event_id", F.col("user_id").alias("k"), F.col("ts").alias("t")
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.col("event_id").alias("p_event"),
    )
    hit = asof_join(
        signups,
        purchases,
        key="k",
        time="t",
        value_cols=["p_event"],
        direction="forward",
        tolerance_s=CONV_TOL_S,
    )
    return hit.groupBy(
        F.date_format(F.date_trunc("hour", F.col("t")), "yyyy-MM-dd HH:mm:ss").alias(
            "hour_ts"
        )
    ).agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.count("p_event").alias("n_converted"),
    )


RFM_BINS = 3  # terciles per dimension


def _rfm_oracle() -> str:
    def b(dim: str) -> str:
        return f"""
        SELECT k, min(v) AS bv FROM (
          SELECT v, sum(cnt) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum
          FROM (SELECT {dim} AS v, count(*) AS cnt FROM rfm GROUP BY 1)
        ), n, (SELECT unnest(range(1, {RFM_BINS})) AS k) ks
        WHERE {RFM_BINS} * cum >= k * n GROUP BY k
        """

    return f"""
    WITH cut AS (SELECT max(o_orderdate) AS cutoff FROM orders),
    rfm AS (
      SELECT o_custkey AS c,
             date_diff('day', max(o_orderdate), (SELECT cutoff FROM cut)) AS r,
             count(*) AS f,
             round(sum(o_totalprice), 2) AS m
      FROM orders GROUP BY 1
    ), n AS (SELECT count(*) AS n FROM rfm),
    rb AS ({b("r")}), fb AS ({b("f")}), mb AS ({b("m")}),
    seg AS (
      SELECT c, m,
             (SELECT count(*) FROM rb WHERE bv < rfm.r) AS r_bin,
             (SELECT count(*) FROM fb WHERE bv < rfm.f) AS f_bin,
             (SELECT count(*) FROM mb WHERE bv < rfm.m) AS m_bin
      FROM rfm
    )
    SELECT CAST(r_bin AS VARCHAR) || CAST(f_bin AS VARCHAR)
             || CAST(m_bin AS VARCHAR)        AS segment,
           CAST(count(*) AS BIGINT)           AS n_customers,
           round(sum(m), 2)                   AS total_monetary
    FROM seg GROUP BY 1
    """


@register(
    QUERIES,
    "rfm_customer_segments",
    oracle=_rfm_oracle(),
    doc="RFM customer segmentation (recency/frequency/monetary): one "
    "aggregation builds the per-customer RFM vector, tercile boundaries per "
    "dimension come from the integer rule 3*cum >= k*n over distinct "
    "values (the engine-stable quantile rule equi_depth_histogram uses; "
    "monetary is rounded to cents first so per-customer sums are "
    "cross-engine-identical), and the 6 collected boundary values bin every "
    "customer map-side into 27 segments. All THREE dimensions' boundaries "
    "come from ONE melted job (explode r/f/m into (dim, v) rows — was three "
    "sequential collects, 3x the wall time), using the banded two-level "
    "prefix sum with dim in every partition key: no single-task sort "
    "anywhere, even the band-offset windows are dim-partitioned. "
    "approx_percentile remains an optional cheaper swap, no longer a scale "
    "necessity.",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cutoff = o.agg(F.max("o_orderdate").alias("cutoff"))
    rfm = (
        o.groupBy(F.col("o_custkey").alias("c"))
        .agg(
            F.max("o_orderdate").alias("last"),
            F.count(F.lit(1)).alias("f"),
            F.round(F.sum("o_totalprice"), 2).alias("m"),
        )
        .join(F.broadcast(cutoff))
        .withColumn("r", F.datediff("cutoff", "last"))
        .select("c", "r", "f", "m")
    )
    # policy cut (materialize.py), not persist: released when the plan dies
    rfm = rfm.transform(cut())

    # ONE boundary job for all three dimensions (was three sequential
    # collect jobs, each re-reading the persisted rfm table): melt (r, f, m)
    # into (dim, v) rows and run the banded two-level cumulative-count
    # scheme (equi_depth_histogram's) with dim in every partition key — so
    # even the band-offset windows are dim-partitioned, and the per-value
    # ranking sort is further split by a coarse value band, never a single
    # task on the customer-cardinality monetary domain.
    bands_by_dim = {"r": 30.0, "f": 5.0, "m": 1000.0}
    melted = rfm.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(dim).alias("dim"),
                        F.col(dim).cast("double").alias("v"),
                        F.lit(band).alias("band"),
                    )
                    for dim, band in bands_by_dim.items()
                ]
            )
        ).alias("x")
    ).select("x.dim", "x.v", "x.band")
    d = melted.groupBy("dim", "v", "band").agg(F.count(F.lit(1)).alias("cnt"))
    d = d.withColumn("cb", F.floor(F.col("v") / F.col("band")))
    w_in = Window.partitionBy("dim", "cb").orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    intra = d.withColumn("intra", F.sum("cnt").over(w_in))
    bands_t = d.groupBy("dim", "cb").agg(F.sum("cnt").alias("band_cnt"))
    w_off = (
        Window.partitionBy("dim")
        .orderBy("cb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = (
        Window.partitionBy("dim")
        .orderBy("cb")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    offsets = bands_t.select(
        "dim",
        "cb",
        F.coalesce(F.sum("band_cnt").over(w_off), F.lit(0)).alias("off"),
        F.sum("band_cnt").over(w_all).alias("n"),
    )
    c = intra.join(F.broadcast(offsets), ["dim", "cb"]).select(
        "dim", "v", (F.col("intra") + F.col("off")).alias("cum"), "n"
    )
    brows = (
        c.select(
            "dim",
            "v",
            "cum",
            "n",
            F.explode(F.sequence(F.lit(1), F.lit(RFM_BINS - 1))).alias("k"),
        )
        .filter(F.lit(RFM_BINS) * F.col("cum") >= F.col("k") * F.col("n"))
        .groupBy("dim", "k")
        .agg(F.min("v").alias("bv"))
        .collect()  # 2 boundaries x 3 dims = 6 rows, one job
    )
    bvs: dict[str, list[float]] = {dim: [] for dim in bands_by_dim}
    for row in sorted(brows, key=lambda r: (r["dim"], r["k"])):
        bvs[row["dim"]].append(float(row["bv"]))

    def bin_col(dim: str, bs: list[float]):
        return F.size(
            F.filter(F.lit(bs), lambda b: F.col(dim).cast("double") > b)
        )

    rb, fb, mb = bvs["r"], bvs["f"], bvs["m"]
    seg = F.concat_ws(
        "",
        bin_col("r", rb).cast("string"),
        bin_col("f", fb).cast("string"),
        bin_col("m", mb).cast("string"),
    )
    return rfm.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("m"), 2).alias("total_monetary"),
    )


# ---- Holt-Winters (double exponential smoothing): level + trend ----------
#
# The coupled recurrence
#   l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
#   b_t = g*(l_t - l_{t-1}) + (1-g)*b_{t-1}
# is the 2x2 LINEAR system s_t = A s_{t-1} + u_t with s = [level, trend],
# A = [[1-a, 1-a], [-a*g, 1-a*g]], u_t = [a*y_t, a*g*y_t]. That makes the
# events_ewma_blocked truncation technique (round-4 verdict ask #5) apply
# with matrix powers in place of scalar powers — and because A^d is a
# CONSTANT for every in-block distance d, the within-block "scan" collapses
# to a plain groupBy sum against literal weight arrays: zero per-row
# sequential work, one narrow shuffle per level.
HW_ALPHA = 0.3
HW_BETA = 0.2
HW_B = 32  # block length (rows of per-key serial dependency: none — see above)
# Carry depth 4: |A^k| decays as sqrt(1-a)^k ~= 0.8367^k, so the dropped
# tail after 4*32 = 128 steps is ~0.7^64 ~= 1.2e-10 of the oldest retained
# magnitude. The ORACLE computes the identical truncated algebra; the
# truncation is checked against the true recursive Holt-Winters to 1e-6 in
# tests/test_functions.py.
HW_CARRY = 4


def _hw_pows() -> list[tuple[float, float, float, float]]:
    """(A^k)_{00,01,10,11} for k = 0 .. HW_CARRY*HW_B + 1, pure-Python
    matmuls so the Spark literals and the oracle literals are the SAME
    doubles (repr round-trips bit-exactly into both engines)."""
    a, g = HW_ALPHA, HW_BETA
    A = (1.0 - a, 1.0 - a, -a * g, 1.0 - a * g)
    pows = [(1.0, 0.0, 0.0, 1.0)]
    for _ in range(HW_CARRY * HW_B + 1):
        p00, p01, p10, p11 = pows[-1]
        pows.append(
            (
                p00 * A[0] + p01 * A[2],
                p00 * A[1] + p01 * A[3],
                p10 * A[0] + p11 * A[2],
                p10 * A[1] + p11 * A[3],
            )
        )
    return pows


_HW_POWS = _hw_pows()
# within-block weights: entries of A^d for distance d = lmax - l in 0..B-1
_HW_D = [[p[c] for p in _HW_POWS[:HW_B]] for c in range(4)]
# carry multipliers: entries of A^(lmax + 1 + (i-1)*B), indexed by lmax —
# only the final (partial) block has lmax < B-1, full blocks use lmax = B-1
_HW_M = {
    i: [[_HW_POWS[l + 1 + (i - 1) * HW_B][c] for l in range(HW_B)] for c in range(4)]
    for i in range(1, HW_CARRY + 1)
}


def _hw_oracle() -> str:
    a, ag = HW_ALPHA, HW_ALPHA * HW_BETA
    B, C = HW_B, HW_CARRY

    def lst(xs: list[float]) -> str:
        return "[" + ",".join(repr(v) for v in xs) + "]"

    D00, D01, D10, D11 = (lst(_HW_D[c]) for c in range(4))
    lags = ",\n             ".join(
        f"lag(w0, {i}) OVER win AS q0_{i}, lag(w1, {i}) OVER win AS q1_{i}"
        for i in range(1, C + 1)
    )
    lvl_carry = "\n               + ".join(
        f"({lst(_HW_M[i][0])}[lmax + 1] * coalesce(q0_{i}, 0)"
        f" + {lst(_HW_M[i][1])}[lmax + 1] * coalesce(q1_{i}, 0))"
        for i in range(1, C + 1)
    )
    trd_carry = "\n               + ".join(
        f"({lst(_HW_M[i][2])}[lmax + 1] * coalesce(q0_{i}, 0)"
        f" + {lst(_HW_M[i][3])}[lmax + 1] * coalesce(q1_{i}, 0))"
        for i in range(1, C + 1)
    )
    return f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM span
    ), dense AS (
      SELECT g.event_type, g.hr, coalesce(h.n, 0.0) AS n
      FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hr = h.hr
    ), o AS (
      SELECT event_type, hr, n,
             row_number() OVER (PARTITION BY event_type ORDER BY hr) - 1 AS rn
      FROM dense
    ), bl AS (
      SELECT event_type, hr, rn // {B} AS blk, rn % {B} AS l,
             CASE WHEN rn = 0 THEN n ELSE {a} * n END AS u0,
             CASE WHEN rn = 0 THEN 0.0 ELSE {ag} * n END AS u1
      FROM o
    ), lm AS (
      SELECT event_type, blk, max(l) AS lmax, max(hr) AS end_hr
      FROM bl GROUP BY 1, 2
    ), ws AS (
      SELECT bl.event_type, bl.blk,
             sum({D00}[lmax - l + 1] * u0 + {D01}[lmax - l + 1] * u1) AS w0,
             sum({D10}[lmax - l + 1] * u0 + {D11}[lmax - l + 1] * u1) AS w1
      FROM bl JOIN lm ON bl.event_type = lm.event_type AND bl.blk = lm.blk
      GROUP BY 1, 2
    ), lg AS (
      SELECT event_type, blk, w0, w1,
             {lags}
      FROM ws WINDOW win AS (PARTITION BY event_type ORDER BY blk)
    ), st AS (
      SELECT lg.event_type, lg.blk, lm.end_hr,
             lg.w0 + {lvl_carry} AS lvl,
             lg.w1 + {trd_carry} AS trd
      FROM lg JOIN lm ON lg.event_type = lm.event_type AND lg.blk = lm.blk
    )
    SELECT event_type,
           strftime(end_hr, '%Y-%m-%d %H:%M:%S') AS block_end,
           floor(lvl * 10000 + 0.500001) / 10000 AS level,
           floor(trd * 10000 + 0.500001) / 10000 AS trend,
           floor((lvl + trd) * 10000 + 0.500001) / 10000 AS forecast_1h
    FROM st
    """


@register(
    QUERIES,
    "holt_winters_level_trend",
    oracle=_hw_oracle(),
    doc="Holt-Winters double exponential smoothing (level + trend) over each "
    "event type's densified hourly count series, as a BLOCKED 2x2 linear "
    "recurrence: s_t = A s_{t-1} + u_t with constant A, so within-block "
    "contributions are literal matrix-power weights A^(lmax-l) summed by a "
    "plain groupBy (no per-row serial scan at all), and cross-block state is "
    "the 4 lagged block-end vectors with analytic A^(l+1+(i-1)B) decay — "
    "terms older than 4 blocks (spectral radius sqrt(1-alpha): ~1e-10 "
    "relative at 128 steps) are dropped, oracle computes the identical "
    "truncated algebra, truncation-vs-exact-recurrence pinned <= 1e-6 in "
    "tests. Output: per-block-end level/trend/one-step forecast. Plan: two "
    "narrow per-key shuffles + per-key block lag window; numeric range O(1) "
    "at any series length.",
)
def holt_winters_level_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_hourly(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("hr")
    o = dense.withColumn("rn", F.row_number().over(w) - 1)
    bl = o.select(
        "event_type",
        "hr",
        F.expr(f"rn div {HW_B}").alias("blk"),
        (F.col("rn") % HW_B).alias("l"),
        F.when(F.col("rn") == 0, F.col("n"))
        .otherwise(F.lit(HW_ALPHA) * F.col("n"))
        .alias("u0"),
        F.when(F.col("rn") == 0, F.lit(0.0))
        .otherwise(F.lit(HW_ALPHA * HW_BETA) * F.col("n"))
        .alias("u1"),
    )
    lm = bl.groupBy("event_type", "blk").agg(
        F.max("l").alias("lmax"), F.max("hr").alias("end_hr")
    )
    j = bl.join(lm, ["event_type", "blk"])
    d_idx = (F.col("lmax") - F.col("l") + 1).cast("int")

    def pick(arr: list[float], idx):
        return F.element_at(F.lit(arr), idx)

    ws = j.groupBy("event_type", "blk").agg(
        F.sum(
            pick(_HW_D[0], d_idx) * F.col("u0") + pick(_HW_D[1], d_idx) * F.col("u1")
        ).alias("w0"),
        F.sum(
            pick(_HW_D[2], d_idx) * F.col("u0") + pick(_HW_D[3], d_idx) * F.col("u1")
        ).alias("w1"),
    )
    wl = Window.partitionBy("event_type").orderBy("blk")
    lg = ws.select(
        "event_type",
        "blk",
        "w0",
        "w1",
        *[
            F.lag(src, i).over(wl).alias(f"q{ch}_{i}")
            for i in range(1, HW_CARRY + 1)
            for ch, src in (("0", "w0"), ("1", "w1"))
        ],
    )
    st = lg.join(lm, ["event_type", "blk"])
    lmax_idx = (F.col("lmax") + 1).cast("int")
    z = F.lit(0.0)
    level = F.col("w0") + sum(
        (
            pick(_HW_M[i][0], lmax_idx) * F.coalesce(F.col(f"q0_{i}"), z)
            + pick(_HW_M[i][1], lmax_idx) * F.coalesce(F.col(f"q1_{i}"), z)
            for i in range(1, HW_CARRY + 1)
        ),
        start=z,
    )
    trend = F.col("w1") + sum(
        (
            pick(_HW_M[i][2], lmax_idx) * F.coalesce(F.col(f"q0_{i}"), z)
            + pick(_HW_M[i][3], lmax_idx) * F.coalesce(F.col(f"q1_{i}"), z)
            for i in range(1, HW_CARRY + 1)
        ),
        start=z,
    )

    def rnd(c):
        # same floor-nudge as events_ewma_blocked (half-boundary rule)
        return floor_nudge(c, 4)

    return st.select(
        "event_type",
        F.date_format("end_hr", "yyyy-MM-dd HH:mm:ss").alias("block_end"),
        rnd(level).alias("level"),
        rnd(trend).alias("trend"),
        rnd(level + trend).alias("forecast_1h"),
    )


# ---- Additive seasonal decomposition: n = trend + seasonal + residual ----
SEAS_P = 24  # hour-of-day period


def _seasonal_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hr, n, seasonal, trend, residual) over the densified
    hourly series — shared by the decomposition and anomaly queries."""
    dense = _dense_hourly(spark, sf_dir)
    # seasonal index: hour-of-day mean minus the series mean (additive,
    # zero-mean); both are per-type aggregates over the dense grid — 120 and
    # 5 rows, broadcast back
    typ = dense.groupBy("event_type").agg(F.avg("n").alias("type_mean"))
    hod = dense.groupBy(
        "event_type", F.hour("hr").alias("hod")
    ).agg(F.avg("n").alias("hod_mean"))
    # centered moving average over one full period: trend only where the
    # window is complete so boundary rows don't fake a trend out of a
    # truncated frame (same ROWS semantics both engines)
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-(SEAS_P // 2 - 1), SEAS_P // 2)
    )
    d = (
        dense.withColumn("hod", F.hour("hr"))
        .join(F.broadcast(hod), ["event_type", "hod"])
        .join(F.broadcast(typ), "event_type")
        .withColumn(
            "trend",
            F.when(
                F.count(F.lit(1)).over(w) == SEAS_P, F.sum("n").over(w) / SEAS_P
            ),
        )
        .withColumn("seasonal", F.col("hod_mean") - F.col("type_mean"))
        .withColumn("residual", F.col("n") - F.col("trend") - F.col("seasonal"))
    )
    return d.select("event_type", "hr", "n", "seasonal", "trend", "residual")


_SEAS_ORACLE_BASE = f"""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM span
    ), dense AS (
      SELECT g.event_type, g.hr, coalesce(h.n, 0.0) AS n
      FROM grid g LEFT JOIN hourly h ON g.event_type = h.event_type AND g.hr = h.hr
    ), typ AS (
      SELECT event_type, avg(n) AS type_mean FROM dense GROUP BY 1
    ), hod AS (
      SELECT event_type, EXTRACT(hour FROM hr) AS hod, avg(n) AS hod_mean
      FROM dense GROUP BY 1, 2
    ), d AS (
      SELECT dense.event_type, dense.hr, dense.n,
             hod_mean - type_mean AS seasonal,
             CASE WHEN count(*) OVER win = {SEAS_P}
                  THEN sum(dense.n) OVER win / {SEAS_P} END AS trend
      FROM dense
      JOIN hod ON dense.event_type = hod.event_type
              AND EXTRACT(hour FROM dense.hr) = hod.hod
      JOIN typ ON dense.event_type = typ.event_type
      WINDOW win AS (PARTITION BY dense.event_type ORDER BY hr
                     ROWS BETWEEN {SEAS_P // 2 - 1} PRECEDING
                              AND {SEAS_P // 2} FOLLOWING)
    ), parts AS (
      SELECT event_type, hr, n, seasonal, trend,
             n - trend - seasonal AS residual
      FROM d
    )
"""


@register(
    QUERIES,
    "seasonal_decompose_additive",
    oracle=_SEAS_ORACLE_BASE
    + """
    SELECT event_type,
           strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST(n AS BIGINT) AS n,
           floor(seasonal * 10000 + 0.500001) / 10000 AS seasonal,
           floor(trend * 10000 + 0.500001) / 10000 AS trend,
           floor(residual * 10000 + 0.500001) / 10000 AS residual
    FROM parts
    """,
    doc="Classical additive seasonal decomposition of each event type's "
    "densified hourly series: seasonal = hour-of-day mean minus series mean "
    "(two tiny per-type aggregates broadcast back), trend = centered "
    "24-hour moving average (per-key ROWS frame, null where the frame is "
    "incomplete so boundaries don't fake a trend), residual = n - trend - "
    "seasonal. All JVM window/agg algebra; at 100 TB the series length is "
    "time-bounded (~10^4 rows/key/year) regardless of record volume, so "
    "per-key frames stay trivially small.",
)
def seasonal_decompose_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rnd(c):
        return floor_nudge(c, 4)

    return _seasonal_parts(spark, sf_dir).select(
        "event_type",
        F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        F.col("n").cast("long").alias("n"),
        rnd(F.col("seasonal")).alias("seasonal"),
        rnd(F.col("trend")).alias("trend"),
        rnd(F.col("residual")).alias("residual"),
    )


SEAS_TOP = 5


@register(
    QUERIES,
    "seasonal_anomaly_topk",
    oracle=_SEAS_ORACLE_BASE
    + f"""
    , ranked AS (
      SELECT event_type, hr,
             floor(residual * 10000 + 0.500001) / 10000 AS residual,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY abs(floor(residual * 10000 + 0.500001) / 10000) DESC, hr
             ) AS rn
      FROM parts WHERE residual IS NOT NULL
    )
    SELECT event_type, strftime(hr, '%Y-%m-%d %H:%M:%S') AS hour_ts, residual
    FROM ranked WHERE rn <= {SEAS_TOP}
    """,
    doc="Seasonality-adjusted anomaly detection: the top-5 hours per event "
    "type by |residual| of the additive decomposition — spikes that are NOT "
    "explained by the hour-of-day profile or the local trend. Residuals are "
    "rounded BEFORE ranking with an hr tiebreak (the engine-noise-at-the-"
    "rank-boundary rule ts_subsequence_match established).",
)
def seasonal_anomaly_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rnd(c):
        return floor_nudge(c, 4)

    parts = _seasonal_parts(spark, sf_dir).filter(F.col("residual").isNotNull())
    parts = parts.withColumn("residual", rnd(F.col("residual")))
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("residual")).desc(), "hr"
    )
    return (
        parts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SEAS_TOP)
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "residual",
        )
    )


# ---- Session transition matrix (user-journey Markov chain) ---------------


@register(
    QUERIES,
    "session_transition_matrix",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > {SESSION_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), trans AS (
      SELECT event_type AS src,
             lead(event_type) OVER (PARTITION BY user_id, sess_id
                                    ORDER BY ts, event_id) AS dst
      FROM sess
    ), c AS (
      SELECT src, dst, count(*) AS n_transitions
      FROM trans WHERE dst IS NOT NULL GROUP BY 1, 2
    )
    SELECT src, dst, CAST(n_transitions AS BIGINT) AS n_transitions,
           floor(n_transitions * 1.0 / sum(n_transitions) OVER (PARTITION BY src)
                 * 1000000 + 0.500001) / 1000000 AS prob
    FROM c
    """,
    doc="First-order Markov transition matrix over within-session event "
    "sequences (user-journey analytics): sessionize with the 30-min gap "
    "rule (lag + running sum, per-user windows), pair consecutive events "
    "via lead within (user, session), count src->dst transitions, row-"
    "normalize into probabilities (the per-src normalizing window runs over "
    "the TYPE-PAIR table — 25 rows — not the event stream). Floor-nudged "
    "ratio; all integer counts otherwise.",
)
def session_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sess = with_session_ids(e, SESSION_GAP_S)
    ws = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    trans = sess.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(ws).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    c = trans.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("n_transitions"))
    wnorm = Window.partitionBy("src")
    return c.select(
        "src",
        "dst",
        F.col("n_transitions").cast("long").alias("n_transitions"),
        floor_nudge(
            F.col("n_transitions")
            * 1.0
            / F.sum("n_transitions").over(wnorm),
            6,
        ).alias("prob"),
    )


# ---- Join-key skew diagnostic (shuffle planning) -------------------------
SKEW_KEYS = (
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_suppkey"),
    ("events", "user_id"),
)


def _skew_oracle() -> str:
    parts = []
    for table, key in SKEW_KEYS:
        parts.append(
            f"""
    SELECT '{table}.{key}' AS key_col,
           CAST(sum(c) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys,
           floor(max(c) * 1.0 / sum(c) * 1000000 + 0.500001) / 1000000
             AS max_key_share,
           floor((ln(sum(c)) - sum(c * ln(c)) / sum(c)) * 1000000 + 0.500001)
             / 1000000 AS entropy,
           floor(sqrt(avg(c * c) - avg(c) * avg(c)) / avg(c) * 1000000
                 + 0.500001) / 1000000 AS cv
    FROM (SELECT {key}, count(*) AS c FROM {table} GROUP BY 1)"""
        )
    return "\n    UNION ALL\n".join(parts)


@register(
    QUERIES,
    "join_key_skew_report",
    oracle=_skew_oracle(),
    doc="Shuffle-planning skew diagnostic over the four natural join/"
    "aggregation keys: per key column, the row/key counts, the hottest "
    "key's share, the Shannon entropy of the key distribution (nats — low "
    "entropy = concentrated keys = a salting candidate), and the "
    "coefficient of variation of per-key counts. Exactly the statistics "
    "that decide broadcast-vs-shuffle, salting, and AQE skew thresholds "
    "BEFORE running the expensive join. One groupBy + one aggregate per "
    "key column (entropy via ln(T) - sum(c ln c)/T — no per-row "
    "probabilities materialized); identical closed forms both engines, "
    "floor-nudged at 6.",
)
def join_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rnd(c):
        return floor_nudge(c, 6)

    outs = []
    for table, key in SKEW_KEYS:
        t = load_table(spark, sf_dir, table)
        c = t.groupBy(key).agg(F.count(F.lit(1)).alias("c"))
        cd = F.col("c").cast("double")
        outs.append(
            c.agg(
                F.lit(f"{table}.{key}").alias("key_col"),
                F.sum("c").cast("long").alias("n_rows"),
                F.count(F.lit(1)).cast("long").alias("n_keys"),
                rnd(F.max("c") * 1.0 / F.sum("c")).alias("max_key_share"),
                rnd(
                    F.log(F.sum("c")) - F.sum(cd * F.log(cd)) / F.sum("c")
                ).alias("entropy"),
                rnd(
                    F.sqrt(F.avg(cd * cd) - F.avg(cd) * F.avg(cd)) / F.avg(cd)
                ).alias("cv"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# Rolling-window distinct cardinality: the DAU/WAU/stickiness board metric.
WAU_DAYS = 7


@register(
    QUERIES,
    "rolling_7d_distinct_users",
    oracle=f"""
    WITH p AS (
      SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
    ), span AS (
      SELECT min(day) AS mn, max(day) AS mx FROM p
    ), grid AS (
      SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS day FROM span
    ), contrib AS (
      -- a user present on day d is 'weekly active' on d .. d+6: the
      -- bounded 7x explosion that turns rolling DISTINCT into a plain
      -- per-day distinct count (cardinality does not sum across days)
      SELECT DISTINCT
             unnest(generate_series(day, day + INTERVAL {WAU_DAYS - 1} DAY,
                                    INTERVAL 1 DAY)) AS wday,
             user_id
      FROM p
    ), wau AS (
      SELECT wday AS day, count(*) AS wau FROM contrib GROUP BY 1
    ), dau AS (
      SELECT day, count(*) AS dau FROM p GROUP BY 1
    )
    SELECT strftime(g.day, '%Y-%m-%d') AS day,
           CAST(coalesce(d.dau, 0) AS BIGINT) AS dau,
           CAST(coalesce(w.wau, 0) AS BIGINT) AS wau,
           CASE WHEN coalesce(w.wau, 0) = 0 THEN 0.0
                ELSE floor(CAST(coalesce(d.dau, 0) AS DOUBLE) / w.wau
                           * 10000 + 0.500001) / 10000 END AS stickiness
    FROM grid g
    LEFT JOIN dau d ON d.day = g.day
    LEFT JOIN wau w ON w.day = g.day
    """,
    doc=f"Rolling {WAU_DAYS}-day distinct users (DAU / WAU / stickiness): "
    "distinct cardinality cannot be summed across a sliding window, so "
    "each (user, active-day) pair is exploded to the 7 window days it "
    "contributes to — a BOUNDED w-fold expansion of the (user x day) "
    "presence table (already reduced from raw events), then one distinct "
    "count per day. This is the exact-form counterpart of the mergeable-"
    "sketch approach (HLL per day, union over the window — "
    "sketch_cardinalities is the sketch side); at 100 TB the presence "
    "table is the small aggregate and the 7x explode stays presence-"
    "sized. Day grid densified over the span so inactive days report 0.",
)
def rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    p = (
        e.select("user_id", F.date_trunc("day", F.col("ts")).alias("day"))
        .distinct()
        # consumed by span/grid, dau, and the window explosion —
        # localCheckpoint (reference-released), never a per-call persist
        .transform(cut())
    )
    span = p.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    grid = span.select(
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    contrib = p.select(
        F.explode(
            F.sequence(
                "day",
                F.col("day") + F.expr(f"INTERVAL {WAU_DAYS - 1} DAY"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day"),
        "user_id",
    ).distinct()
    wau = contrib.groupBy("day").agg(F.count(F.lit(1)).alias("wau"))
    dau = p.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    out = (
        grid.join(dau, "day", "left")
        .join(wau, "day", "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("dau", F.lit(0)).cast("long").alias("dau"),
            F.coalesce("wau", F.lit(0)).cast("long").alias("wau"),
            F.when(F.coalesce("wau", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                # coalesce the numerator too: a zero-DAU day inside another
                # day's trailing window has wau > 0, and a NULL dau would
                # otherwise propagate NULL where the metric is 0/wau = 0.0
                floor_nudge(
                    F.coalesce("dau", F.lit(0)).cast("double")
                    / F.col("wau"),
                    4,
                )
            )
            .alias("stickiness"),
        )
    )
    return out


# k-anonymity release: publish at fine granularity where the group is big
# enough, generalize up one level where not, suppress the rest.
KANON_K = 5
KANON_FINE = 5  # value bucket width at the fine level
KANON_COARSE = 50  # one step up the generalization hierarchy


@register(
    QUERIES,
    "k_anonymity_release",
    oracle=f"""
    WITH r AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             floor(value / {KANON_FINE}) AS bf,
             floor(value / {KANON_COARSE}) AS bc
      FROM events
    ), fine AS (
      SELECT event_type, day, bf, count(*) AS n FROM r GROUP BY 1, 2, 3
    ), tagged AS (
      SELECT r.event_type, r.day, r.bc, f.n >= {KANON_K} AS fine_ok
      FROM r JOIN fine f
        ON f.event_type = r.event_type AND f.day = r.day AND f.bf = r.bf
    ), coarse AS (
      -- generalization pool: only rows that FAILED the fine test,
      -- re-evaluated at the coarser bucket
      SELECT event_type, day, bc, count(*) AS n
      FROM tagged WHERE NOT fine_ok GROUP BY 1, 2, 3
    ), final AS (
      SELECT t.event_type,
             CASE WHEN t.fine_ok THEN 'fine'
                  WHEN c.n >= {KANON_K} THEN 'coarse'
                  ELSE 'suppressed' END AS release_level
      FROM tagged t
      LEFT JOIN coarse c
        ON c.event_type = t.event_type AND c.day = t.day AND c.bc = t.bc
    )
    SELECT event_type, release_level,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM final GROUP BY event_type, release_level
    """,
    doc=f"k-anonymity release audit (k={KANON_K}) over quasi-identifier "
    f"(event_type, day, value bucket): rows in fine-bucket (width "
    f"{KANON_FINE}) groups of size >= k publish as-is; rows that fail are "
    f"re-evaluated one step up the generalization hierarchy (width "
    f"{KANON_COARSE}) over the FAILED pool only; still-small groups are "
    "suppressed — the standard generalize-then-suppress ladder. Two "
    "grouped counts + two broadcast-joins of group-size tables back onto "
    "the rows; the QI-group tables are the small aggregates, so at "
    "100 TB this is two scans + aggregate-sized joins. All-integer "
    "output: rows per (event_type, release level).",
)
def k_anonymity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    r = e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).alias("day"),
        F.floor(F.col("value") / KANON_FINE).alias("bf"),
        F.floor(F.col("value") / KANON_COARSE).alias("bc"),
        # base projection consumed by both group-size passes — this is the
        # EVENTS-sized frame: a per-call persist with no unpersist pinned a
        # full copy in executor cache per invocation (r11 self-review)
    ).transform(cut())
    fine = r.groupBy("event_type", "day", "bf").agg(
        F.count(F.lit(1)).alias("nf")
    )
    tagged = r.join(F.broadcast(fine), ["event_type", "day", "bf"]).select(
        "event_type", "day", "bc", (F.col("nf") >= KANON_K).alias("fine_ok")
    )
    coarse = (
        tagged.filter(~F.col("fine_ok"))
        .groupBy("event_type", "day", "bc")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    final = tagged.join(
        F.broadcast(coarse), ["event_type", "day", "bc"], "left"
    ).select(
        "event_type",
        F.when(F.col("fine_ok"), "fine")
        .when(F.col("nc") >= KANON_K, "coarse")
        .otherwise("suppressed")
        .alias("release_level"),
    )
    return final.groupBy("event_type", "release_level").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows")
    )


@register(
    QUERIES,
    "chi_square_type_by_dow",
    oracle="""
    WITH c AS (
      -- day-of-week as plain modular arithmetic on days-since-epoch:
      -- Spark and DuckDB NUMBER weekdays differently (the repo's noted
      -- cross-engine gotcha), integer math is engine-proof
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7
                  AS BIGINT) AS dow,
             count(*) AS o
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT CAST(sum(o) AS DOUBLE) AS n FROM c
    ), rt AS (SELECT event_type, CAST(sum(o) AS DOUBLE) AS r FROM c GROUP BY 1
    ), ct AS (SELECT dow, CAST(sum(o) AS DOUBLE) AS cl FROM c GROUP BY 1
    ), cells AS (
      SELECT c.event_type, c.o, rt.r * ct.cl / tot.n AS e
      FROM c JOIN rt ON rt.event_type = c.event_type
             JOIN ct ON ct.dow = c.dow
             CROSS JOIN tot
    )
    SELECT event_type,
           CAST(sum(o) AS BIGINT) AS n_events,
           floor(sum((o - e) * (o - e) / e) * 1000000 + 0.500001) / 1000000
             AS chi2_contrib
    FROM cells GROUP BY event_type
    """,
    doc="Chi-square independence test of event_type vs day-of-week: the "
    "contingency table is one groupBy (35 cells), expected counts come "
    "from broadcast row/column marginals, and each type's chi-square "
    "contribution is a 7-term aggregate — everything after the first "
    "groupBy is cell-cardinality work. Day-of-week is computed as "
    "days-since-epoch mod 7 (engines NUMBER weekdays differently; "
    "modular integer arithmetic is engine-proof). Completes the "
    "statistical-tests corner next to corr / OLS / MAD: categorical "
    "association. Contributions floor-nudged at 1e-6.",
)
def chi_square_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    c = (
        e.select(
            "event_type",
            (F.expr("datediff(cast(ts as date), date'1970-01-01')") % 7)
            .cast("long")
            .alias("dow"),
        )
        .groupBy("event_type", "dow")
        .agg(F.count(F.lit(1)).alias("o"))
        .transform(cut(eager=False))  # 35 cells feeding three marginal consumers
    )
    tot = c.agg(F.sum("o").cast("double").alias("n"))
    rt = c.groupBy("event_type").agg(F.sum("o").cast("double").alias("r"))
    ct = c.groupBy("dow").agg(F.sum("o").cast("double").alias("cl"))
    cells = (
        c.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            "o",
            (F.col("r") * F.col("cl") / F.col("n")).alias("e"),
        )
    )
    return cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("n_events"),
        floor_nudge(
            F.sum(
                (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
            ),
            6,
        ).alias("chi2_contrib"),
    )


# Last-touch attribution: every purchase credited to the user's most recent
# preceding touch (click/view) within the window, else unattributed.
ATTR_WINDOW_H = 24


@register(
    QUERIES,
    "attribution_last_touch",
    oracle=f"""
    WITH s AS (
      SELECT user_id, ts, event_id, event_type,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN {{'tts': ts, 'tt': event_type}} END
                        IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS touch
      FROM events
      WHERE event_type IN ('click', 'view', 'purchase')
    ), p AS (
      SELECT CASE WHEN touch IS NULL THEN 'none'
                  WHEN date_diff('microsecond', touch.tts, ts)
                       > {ATTR_WINDOW_H * 3600 * 1000000} THEN 'none'
                  ELSE touch.tt END AS channel,
             CASE WHEN touch IS NOT NULL
                   AND date_diff('microsecond', touch.tts, ts)
                       <= {ATTR_WINDOW_H * 3600 * 1000000}
                  THEN date_diff('microsecond', touch.tts, ts) / 60000000.0
             END AS mins
      FROM s WHERE event_type = 'purchase'
    )
    SELECT channel,
           CAST(count(*) AS BIGINT) AS n_purchases,
           floor(coalesce(avg(mins), 0.0) * 10000 + 0.500001) / 10000
             AS avg_mins_to_convert
    FROM p GROUP BY channel
    """,
    doc=f"Last-touch attribution: each purchase credited to the user's "
    f"most recent preceding click/view within {ATTR_WINDOW_H}h, else "
    "'none' — the union + last_value(struct) IGNORE NULLS running window "
    "(same one-shuffle shape as the as-of join family: no purchase-touch "
    "self-join, no per-purchase scan-back). Time-to-convert is an exact "
    "integer microsecond diff scaled to minutes, averaged per channel "
    "and floor-nudged. Ties at identical timestamps break on event_id "
    "identically in both engines.",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    touch = F.last(
        F.when(
            F.col("event_type").isin("click", "view"),
            F.struct(F.col("ts").alias("tts"), F.col("event_type").alias("tt")),
        ),
        ignorenulls=True,
    ).over(w)
    s = e.select("ts", "event_type", touch.alias("touch"))
    lim = ATTR_WINDOW_H * 3600 * 1000000
    dmicros = F.unix_micros("ts") - F.unix_micros("touch.tts")
    p = s.filter(F.col("event_type") == "purchase").select(
        F.when(F.col("touch").isNull(), "none")
        .when(dmicros > lim, "none")
        .otherwise(F.col("touch.tt"))
        .alias("channel"),
        F.when(
            F.col("touch").isNotNull() & (dmicros <= lim), dmicros / 60000000.0
        ).alias("mins"),
    )
    return p.groupBy("channel").agg(
        F.count(F.lit(1)).cast("long").alias("n_purchases"),
        floor_nudge(F.coalesce(F.avg("mins"), F.lit(0.0)), 4).alias(
            "avg_mins_to_convert"
        ),
    )


# Deterministic bootstrap: hash-seeded Poisson(1) resampling weights make
# the classically-random procedure exactly reproducible AND cross-engine
# checkable — the multiplier trick ("Poissonization") is the standard way
# to bootstrap a distributed dataset without materializing resamples.
BOOT_B = 32  # replicas
# Poisson(1) inverse-CDF ladder: u < cum[k] -> weight k (else 7)
_BOOT_CUM = [
    (0, 0.36787944117144233),
    (1, 0.7357588823428847),
    (2, 0.9196986029286058),
    (3, 0.9810118431238463),
    (4, 0.9963401531726563),
    (5, 0.9994058151824183),
    (6, 0.999916758850712),
]
_BOOT_SCALE = float(1 << 60)  # md5 60-bit prefix -> uniform [0,1)


@register(
    QUERIES,
    "bootstrap_ci_event_values",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(0, {BOOT_B})) AS b
    ), wtab AS (
      SELECT e.event_type, r.b, e.value,
             CASE {' '.join(f"WHEN ('0x' || substr(md5(r.b::VARCHAR || ':' || e.event_id::VARCHAR), 1, 15))::BIGINT / {_BOOT_SCALE} < {c} THEN {k}" for k, c in _BOOT_CUM)}
                  ELSE 7 END AS w
      FROM events e CROSS JOIN reps r
    ), m AS (
      SELECT event_type, b,
             floor(sum(w * value) / sum(w) * 1000000 + 0.500001) / 1000000
               AS mb
      FROM wtab GROUP BY event_type, b
    ), r AS (
      SELECT event_type, mb,
             row_number() OVER (PARTITION BY event_type ORDER BY mb, b) AS rn
      FROM m
    )
    SELECT r.event_type,
           (SELECT floor(avg(value) * 1000000 + 0.500001) / 1000000
            FROM events e2 WHERE e2.event_type = r.event_type) AS mean_value,
           max(CASE WHEN rn = 2 THEN mb END)            AS ci_lo,
           max(CASE WHEN rn = {BOOT_B - 1} THEN mb END) AS ci_hi
    FROM r GROUP BY r.event_type
    """,
    doc=f"Bootstrap confidence interval for avg(value) per event_type, "
    f"fully deterministic: {BOOT_B} replicas weight each row by a "
    "Poisson(1) multiplier drawn from the portable 60-bit md5 of "
    "(replica, event_id) through the inverse-CDF ladder — the "
    "multiplier bootstrap, which needs NO resample materialization and "
    "map-reduces as one weighted aggregate per replica (all replicas in "
    "ONE pass via a bounded 32x explode). CI bounds are ORDER STATISTICS "
    "of the rounded replica means (2nd smallest / 2nd largest ~ 93.75% "
    "interval) — rank-based, so no cross-engine quantile-interpolation "
    "drift. The hash-seeded variant of what random bootstrap cannot "
    "offer: bit-reproducibility across engines and runs.",
)
def bootstrap_ci_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("b").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(_BOOT_SCALE)
    )
    w = F.lit(7)
    for k, c in reversed(_BOOT_CUM):
        w = F.when(u < c, k).otherwise(w)
    wtab = e.select(
        "event_type",
        "value",
        "event_id",
        F.explode(F.array(*[F.lit(b) for b in range(BOOT_B)])).alias("b"),
    ).select("event_type", "b", "value", w.alias("w"))
    m = wtab.groupBy("event_type", "b").agg(
        floor_nudge(F.sum(F.col("w") * F.col("value")) / F.sum("w"), 6).alias(
            "mb"
        )
    )
    rn = F.row_number().over(
        Window.partitionBy("event_type").orderBy("mb", "b")
    )
    r = m.withColumn("rn", rn)
    ci = r.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == 2, F.col("mb"))).alias("ci_lo"),
        F.max(F.when(F.col("rn") == BOOT_B - 1, F.col("mb"))).alias("ci_hi"),
    )
    mean = e.groupBy("event_type").agg(
        floor_nudge(F.avg("value"), 6).alias("mean_value")
    )
    return mean.join(ci, "event_type").select(
        "event_type", "mean_value", "ci_lo", "ci_hi"
    )


@register(
    QUERIES,
    "ohlc_hourly_bars",
    oracle="""
    SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           round(min({'ts': ts, 'eid': event_id, 'v': value}).v, 2) AS open,
           round(max(value), 2)                                      AS high,
           round(min(value), 2)                                      AS low,
           round(max({'ts': ts, 'eid': event_id, 'v': value}).v, 2) AS close,
           CAST(count(*) AS BIGINT)                   AS volume,
           round(sum(value), 2)                       AS notional
    FROM events
    GROUP BY 1, 2
    """,
    doc="OHLC candlestick bars per (event_type, hour) — the financial "
    "downsampling staple: open/close are argmin/argmax by (ts, event_id) "
    "as min(struct(ts, event_id, value)).value / max(...) — lexicographic "
    "struct comparison, so ts ties break on event_id identically in both "
    "engines (the CDC merger's argmax construction), "
    "high/low/volume/notional are plain aggregates. ONE partial-"
    "aggregated groupBy, no window, no sort: at 100 TB this is the "
    "map-side-combine shape, bar cardinality (hours x types) output.",
)
def ohlc_hourly_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = F.struct(
        F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v")
    )
    return (
        e.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
        )
        .agg(
            F.round(F.min(key)["v"], 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max(key)["v"], 2).alias("close"),
            F.count(F.lit(1)).cast("long").alias("volume"),
            F.round(F.sum("value"), 2).alias("notional"),
        )
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "open",
            "high",
            "low",
            "close",
            "volume",
            "notional",
        )
    )


@register(
    QUERIES,
    "time_weighted_avg_daily",
    oracle="""
    WITH o AS (
      SELECT event_type, ts, value, date_trunc('day', ts) AS day,
             lead(ts) OVER w AS nts,
             lead(date_trunc('day', ts)) OVER w AS nday
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ), seg AS (
      -- LOCF segments clipped at the day boundary: a sample holds its
      -- value until the next sample or midnight, whichever is first
      SELECT event_type, day, value,
             CAST(date_diff('microsecond', ts,
                  CASE WHEN nts IS NULL OR nday <> day
                       THEN day + INTERVAL 1 DAY ELSE nts END)
                  AS DOUBLE) AS dur
      FROM o
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           floor(sum(value * dur) / sum(dur) * 10000 + 0.500001) / 10000
             AS twa,
           CAST(count(*) AS BIGINT) AS n_samples
    FROM seg GROUP BY event_type, day
    """,
    doc="Time-weighted average (the TSDB staple for irregular samples): "
    "LOCF segments — each sample holds its value until the next sample "
    "or midnight, whichever is first — weighted by exact integer-"
    "microsecond durations, aggregated per (event_type, day). One "
    "per-key ordered window (lead) + one groupBy; segment durations "
    "clip at day boundaries so daily averages don't leak across days. "
    "The plain avg() over-weights bursts; this is the correct "
    "irregular-sampling mean.",
)
def time_weighted_avg_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    day = F.date_trunc("day", F.col("ts"))
    o = e.select(
        "event_type",
        "ts",
        "value",
        day.alias("day"),
        F.lead("ts").over(w).alias("nts"),
        F.lead(day).over(w).alias("nday"),
    )
    end = F.when(
        F.col("nts").isNull() | (F.col("nday") != F.col("day")),
        F.col("day") + F.expr("INTERVAL 1 DAY"),
    ).otherwise(F.col("nts"))
    seg = o.select(
        "event_type",
        "day",
        "value",
        (F.unix_micros(end) - F.unix_micros("ts")).cast("double").alias("dur"),
    )
    return seg.groupBy(
        "event_type", F.date_format("day", "yyyy-MM-dd").alias("day")
    ).agg(
        floor_nudge(F.sum(F.col("value") * F.col("dur")) / F.sum("dur"), 4).alias(
            "twa"
        ),
        F.count(F.lit(1)).cast("long").alias("n_samples"),
    )


# User-journey mining: the most common session-opening event paths.
PATH_LEN = 4
PATH_TOP = 10
PATH_GAP_S = 1800  # same 30-min session gap as events_sessionize


@register(
    QUERIES,
    "session_path_topk",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts)
                          > {PATH_GAP_S}
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT user_id, ts, event_id, event_type,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM flagged
    ), ranked AS (
      SELECT user_id, sess_id, event_type,
             row_number() OVER (PARTITION BY user_id, sess_id
                                ORDER BY ts, event_id) AS rn
      FROM sess
    ), paths AS (
      SELECT user_id, sess_id,
             string_agg(event_type, '>' ORDER BY rn) AS path
      FROM ranked WHERE rn <= {PATH_LEN}
      GROUP BY user_id, sess_id
    )
    SELECT path, CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS BIGINT)
             AS rnk
    FROM paths GROUP BY path
    ORDER BY rnk LIMIT {PATH_TOP}
    """,
    doc=f"Top-{PATH_TOP} session-opening journeys: 30-min-gap sessionization "
    "(same two-window construction as events_sessionize), each session "
    f"reduced to its first {PATH_LEN} event types joined '>' — "
    "deterministic ordered string_agg / ordered collect_list — then a "
    "global path frequency top-k. The user-journey complement of "
    "session_transition_matrix (full prefixes vs Markov pairs). Per-user "
    "windows hash-partition; path table is path-cardinality; top-k is "
    "TakeOrdered, no global sort of the session table.",
)
def session_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    sess = with_session_ids(e, PATH_GAP_S)
    ws = Window.partitionBy("user_id", "sess_id").orderBy("ts", "event_id")
    ranked = sess.withColumn("rn", F.row_number().over(ws)).filter(
        F.col("rn") <= PATH_LEN
    )
    paths = (
        ranked.groupBy("user_id", "sess_id")
        .agg(
            F.array_join(
                F.array_sort(
                    F.collect_list(F.struct("rn", "event_type"))
                ).getField("event_type"),
                ">",
            ).alias("path")
        )
    )
    counts = paths.groupBy("path").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions")
    )
    wr = Window.orderBy(F.desc("n_sessions"), "path")
    return (
        counts.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .orderBy("rnk")
        .limit(PATH_TOP)
    )


@register(
    QUERIES,
    "max_drawdown_hourly_close",
    oracle="""
    WITH bars AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             max({'ts': ts, 'eid': event_id, 'v': value}).v AS close
      FROM events GROUP BY 1, 2
    ), dd AS (
      SELECT event_type, hr, close,
             max(close) OVER (PARTITION BY event_type ORDER BY hr
                              ROWS UNBOUNDED PRECEDING) AS peak
      FROM bars
    ), rel AS (
      SELECT event_type, hr,
             floor((peak - close) / peak * 1000000 + 0.500001) / 1000000
               AS drawdown
      FROM dd
    )
    SELECT event_type,
           max(drawdown) AS max_drawdown,
           min(CASE WHEN drawdown = (SELECT max(r2.drawdown) FROM rel r2
                                     WHERE r2.event_type = rel.event_type)
                    THEN strftime(hr, '%Y-%m-%d %H:%M:%S') END)
             AS trough_hour
    FROM rel GROUP BY event_type
    """,
    doc="Maximum drawdown of each type's hourly closing value: running "
    "peak via an ordered cummax window over the BAR table (hours x "
    "types — data-size-independent after the first groupBy), relative "
    "drop floor-nudged, then the per-type max with the earliest trough "
    "hour as deterministic argmax. The running-peak/relative-gap window "
    "pattern (risk metrics, SLA burn-down) not covered elsewhere; close "
    "uses the same struct-argmax as the OHLC bars.",
)
def max_drawdown_hourly_close(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    key = F.struct(
        F.col("ts"), F.col("event_id").alias("eid"), F.col("value").alias("v")
    )
    bars = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.max(key)["v"].alias("close"))
    wpeak = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    rel = bars.withColumn("peak", F.max("close").over(wpeak)).select(
        "event_type",
        "hr",
        floor_nudge((F.col("peak") - F.col("close")) / F.col("peak"), 6).alias(
            "drawdown"
        ),
    )
    wmax = Window.partitionBy("event_type")
    return (
        rel.withColumn("mx", F.max("drawdown").over(wmax))
        .groupBy("event_type")
        .agg(
            F.max("drawdown").alias("max_drawdown"),
            F.min(
                F.when(
                    F.col("drawdown") == F.col("mx"),
                    F.date_format("hr", "yyyy-MM-dd HH:mm:ss"),
                )
            ).alias("trough_hour"),
        )
    )


# Skyline / Pareto frontier (the VLDB preference-query classic): points not
# dominated in (minimize price, maximize quantity).
SKY_BUCKETS = 32


def _frontier(df, part_cols):
    """Non-dominated rows of (price ASC, qty DESC)-sorted partitions.

    Over DISTINCT points, a row is dominated iff the running max of qty
    over STRICTLY PRECEDING rows in that order >= its qty: every preceding
    row has (price < p) or (price == p AND qty > q), so a preceding row
    with qty >= q dominates, and every dominator sorts earlier. One
    ordered window per partition, no pair join.
    """
    w = (
        Window.partitionBy(*part_cols)
        .orderBy(F.asc("price"), F.desc("qty"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("mx", F.max("qty").over(w))
        .filter(F.col("mx").isNull() | (F.col("mx") < F.col("qty")))
        .drop("mx")
    )


@register(
    QUERIES,
    "skyline_price_quantity",
    oracle="""
    WITH pts AS (
      SELECT DISTINCT l_returnflag AS rf,
             l_extendedprice AS price, l_quantity AS qty
      FROM lineitem
    ), marked AS (
      SELECT rf, price, qty,
             max(qty) OVER (PARTITION BY rf
                            ORDER BY price ASC, qty DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING) AS mx
      FROM pts
    ), f AS (
      SELECT rf, price, qty FROM marked WHERE mx IS NULL OR mx < qty
    )
    SELECT rf,
           CAST(count(*) AS BIGINT) AS n_frontier,
           round(min(price), 2)     AS cheapest_price,
           round(max(qty), 2)       AS best_qty
    FROM f GROUP BY rf
    """,
    doc="Skyline (Pareto frontier) per returnflag over (minimize "
    "l_extendedprice, maximize l_quantity): the preference-query classic, "
    "as the TWO-PHASE distributed algorithm — distinct points are hashed "
    "into 32 buckets, each bucket computes its LOCAL frontier with one "
    "ordered window (a locally dominated point is globally dominated, so "
    "pruning is lossless), and the global frontier re-applies the same "
    "rule to the union of local frontiers, which is frontier-sized, not "
    "data-sized. Dominance via sort order: over distinct points sorted "
    "(price ASC, qty DESC), a row is dominated iff the strictly-preceding "
    "running max of qty >= its qty — no pair join anywhere. The oracle "
    "computes the frontier directly (bucketing is an optimization, not a "
    "semantic): identical results by construction.",
)
def skyline_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    pts = (
        li.select(
            F.col("l_returnflag").alias("rf"),
            F.col("l_extendedprice").alias("price"),
            F.col("l_quantity").alias("qty"),
        )
        .distinct()
    )
    bucketed = pts.withColumn(
        "b", F.pmod(F.hash("price", "qty"), F.lit(SKY_BUCKETS))
    )
    local = _frontier(bucketed, ["rf", "b"]).drop("b")
    glob = _frontier(local, ["rf"])
    return glob.groupBy("rf").agg(
        F.count(F.lit(1)).cast("long").alias("n_frontier"),
        F.round(F.min("price"), 2).alias("cheapest_price"),
        F.round(F.max("qty"), 2).alias("best_qty"),
    )


# ---- Referential-integrity audit (data-quality / constraint checking) -----
# (child_table, fk_col, parent_table, pk_col) — the full TPC-H-ish FK graph.
_FK_EDGES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def _fk_oracle() -> str:
    parts = []
    for child, fk, parent, pk in _FK_EDGES:
        parts.append(f"""
        SELECT '{child}.{fk}' AS fk, count(*) AS n_rows,
               CAST(count(DISTINCT c.{fk}) AS BIGINT) AS n_keys,
               CAST(sum(CASE WHEN p.{pk} IS NULL AND c.{fk} IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_rows,
               CAST(count(DISTINCT CASE WHEN p.{pk} IS NULL THEN c.{fk} END)
                    AS BIGINT) AS n_orphan_keys,
               CAST(sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_null_fk
        FROM {child} c
        LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON c.{fk} = p.{pk}""")
    return " UNION ALL ".join(parts)


@register(
    QUERIES,
    "fk_violation_audit",
    oracle=_fk_oracle(),
    doc="Referential-integrity audit over the full FK graph (7 edges): per "
    "relationship, child row/key counts, orphan rows/keys (child FK value "
    "with no parent PK), and NULL FKs — the constraint-checking pass a "
    "pipeline runs before publishing a snapshot. Each edge is one "
    "left join aggregated in the same pass (no second orphan scan); "
    "small parent key sets broadcast, the two big edges "
    "(lineitem->orders/part) hash-join on the key and AQE handles skew. "
    "At 100 TB each edge is one shuffle, and the audit table is 7 rows. "
    "perf_audit rescans note: lineitem/nation appear in 3 edges each — one "
    "COLUMN-PRUNED scan per edge (only the FK column is read), the "
    "documented-acceptable multi-scan shape; caching the fact table "
    "would cost O(data) to save a sliver of I/O. BOTH sides join the "
    "DISTINCT'd parent key set, so a duplicated parent PK (dirty data an "
    "audit must tolerate) cannot fan child rows out and skew the counts.",
)
def fk_violation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    outs = []
    for child, fk, parent, pk in _FK_EDGES:
        c = load_table(spark, sf_dir, child).select(F.col(fk).alias("fk_val"))
        p = (
            load_table(spark, sf_dir, parent)
            .select(F.col(pk).alias("pk_val"))
            .distinct()
        )
        joined = c.join(p, c.fk_val == p.pk_val, "left")
        outs.append(
            joined.agg(
                F.lit(f"{child}.{fk}").alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.count_distinct("fk_val").alias("n_keys"),
                F.sum(
                    F.when(
                        F.col("pk_val").isNull() & F.col("fk_val").isNotNull(), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_orphan_rows"),
                F.count_distinct(
                    F.when(F.col("pk_val").isNull(), F.col("fk_val"))
                ).alias("n_orphan_keys"),
                F.sum(F.when(F.col("fk_val").isNull(), 1).otherwise(0))
                .cast("long")
                .alias("n_null_fk"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res


# ---- l-diversity (the release audit k-anonymity alone can't make) ---------
LDIV_L = 3  # a QI group must see >= L distinct sensitive values to release


@register(
    QUERIES,
    "l_diversity_release",
    oracle=f"""
    WITH r AS (
      SELECT event_type, date_trunc('day', ts) AS day,
             floor(value / {KANON_FINE}) AS bf, user_id
      FROM events
    ), g AS (
      SELECT event_type, day, bf,
             count(*) AS n_rows_g,
             count(DISTINCT user_id) AS n_sensitive
      FROM r GROUP BY 1, 2, 3
    )
    SELECT event_type,
           CASE WHEN n_sensitive >= {LDIV_L} THEN 'diverse'
                ELSE 'suppressed' END AS release_level,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_rows_g) AS BIGINT) AS n_rows
    FROM g GROUP BY 1, 2
    """,
    doc=f"Distinct l-diversity audit (l={LDIV_L}) over the same "
    "quasi-identifier grid as k_anonymity_release, with user_id as the "
    "sensitive attribute: a QI group whose rows all belong to few users "
    "leaks membership even when the group is large enough for "
    "k-anonymity — the homogeneity attack k alone can't stop. One "
    "grouped aggregate (count + distinct-count per QI cell) + one "
    "QI-cell-sized rollup; all-integer output.",
)
def l_diversity_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = (
        e.select(
            "event_type",
            F.date_trunc("day", F.col("ts")).alias("day"),
            F.floor(F.col("value") / KANON_FINE).alias("bf"),
            "user_id",
        )
        .groupBy("event_type", "day", "bf")
        .agg(
            F.count(F.lit(1)).alias("n_rows_g"),
            F.count_distinct("user_id").alias("n_sensitive"),
        )
    )
    return g.groupBy(
        "event_type",
        F.when(F.col("n_sensitive") >= LDIV_L, "diverse")
        .otherwise("suppressed")
        .alias("release_level"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_rows_g").cast("long").alias("n_rows"),
    )


# ---- Apriori frequent triples ----------------------------------------------
APRIORI_MIN_SUP = 6
APRIORI_TOP = 20


@register(
    QUERIES,
    "frequent_triples_apriori",
    oracle=f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
    ), p AS (  -- L2: frequent pairs
      SELECT a.l_suppkey AS i, b2.l_suppkey AS j, count(*) AS c
      FROM b a JOIN b b2
        ON a.l_orderkey = b2.l_orderkey AND a.l_suppkey < b2.l_suppkey
      GROUP BY 1, 2 HAVING count(*) >= {APRIORI_MIN_SUP}
    ), cand AS (  -- C3 by the Apriori join: (i,j)+(j,k), prune on (i,k)
      SELECT p1.i, p1.j, p2.j AS k
      FROM p p1 JOIN p p2 ON p1.j = p2.i
      JOIN p p3 ON p3.i = p1.i AND p3.j = p2.j
    ), t AS (  -- exact triple support, counted only for surviving candidates
      SELECT cand.i, cand.j, cand.k, count(*) AS n_support
      FROM cand
      JOIN b x ON x.l_suppkey = cand.i
      JOIN b y ON y.l_orderkey = x.l_orderkey AND y.l_suppkey = cand.j
      JOIN b z ON z.l_orderkey = x.l_orderkey AND z.l_suppkey = cand.k
      GROUP BY 1, 2, 3 HAVING count(*) >= {APRIORI_MIN_SUP}
    )
    SELECT i AS supp_a, j AS supp_b, k AS supp_c,
           CAST(n_support AS BIGINT) AS n_support
    FROM t ORDER BY n_support DESC, supp_a, supp_b, supp_c
    LIMIT {APRIORI_TOP}
    """,
    doc=f"Frequent-itemset mining, the Apriori step from pairs to triples: "
    f"L2 = co-order supplier pairs with support >= {APRIORI_MIN_SUP}; C3 "
    "candidates from the L2 self-join (i,j)+(j,k) pruned by the third "
    "sub-pair (i,k) in L2 (the Apriori downward-closure property — "
    "support-impossible triples never reach counting); exact support "
    "counted ONLY for surviving candidates via basket equi-joins. All "
    "joins are key-partitioned; candidate volume is bounded by |L2| "
    "density, never |baskets|³ — the classic distributed Apriori shape. "
    f"Top-{APRIORI_TOP} by support with id tiebreaks.",
)
def frequent_triples_apriori(spark: SparkSession, sf_dir: str) -> DataFrame:
    # localCheckpoint, not persist: this query runs once per session, and a
    # persist pins the basket table in executor cache until someone calls
    # unpersist — which nothing would. localCheckpoint materializes once for
    # the four consumers AND is reference-released by the ContextCleaner
    # when the query's DataFrames go out of scope.
    b = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_suppkey")
        .distinct()
        .transform(cut())
    )
    x, y = b.alias("x"), b.alias("y")
    p = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_suppkey") < F.col("y.l_suppkey")),
        )
        .groupBy(
            F.col("x.l_suppkey").alias("i"), F.col("y.l_suppkey").alias("j")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= APRIORI_MIN_SUP)
        .select("i", "j")
        .transform(cut())  # L2 drives three candidate-join sides
    )
    p1 = p.select(F.col("i"), F.col("j"))
    p2 = p.select(F.col("i").alias("j2"), F.col("j").alias("k"))
    p3 = p.select(F.col("i").alias("i3"), F.col("j").alias("k3"))
    cand = (
        p1.join(p2, F.col("j") == F.col("j2"))
        .join(
            p3,
            (F.col("i3") == F.col("i")) & (F.col("k3") == F.col("k")),
        )
        .select("i", "j", "k")
    )
    bx, by, bz = b.alias("bx"), b.alias("by"), b.alias("bz")
    t = (
        cand.join(bx, F.col("bx.l_suppkey") == F.col("i"))
        .join(
            by,
            (F.col("by.l_orderkey") == F.col("bx.l_orderkey"))
            & (F.col("by.l_suppkey") == F.col("j")),
        )
        .join(
            bz,
            (F.col("bz.l_orderkey") == F.col("bx.l_orderkey"))
            & (F.col("bz.l_suppkey") == F.col("k")),
        )
        .groupBy("i", "j", "k")
        .agg(F.count(F.lit(1)).alias("n_support"))
        .filter(F.col("n_support") >= APRIORI_MIN_SUP)
    )
    return (
        t.select(
            F.col("i").alias("supp_a"),
            F.col("j").alias("supp_b"),
            F.col("k").alias("supp_c"),
            F.col("n_support").cast("long").alias("n_support"),
        )
        .orderBy(F.desc("n_support"), "supp_a", "supp_b", "supp_c")
        .limit(APRIORI_TOP)
    )


# ---- Welch's t-test between event-type value distributions -----------------
@register(
    QUERIES,
    "welch_t_event_values",
    oracle="""
    WITH g AS (
      SELECT event_type, count(*) AS n,
             sum(value) AS s, sum(value * value) AS ss
      FROM events GROUP BY 1
    ), st AS (
      SELECT event_type, n, s / n AS m,
             (ss - s * s / n) / (n - 1) AS v
      FROM g WHERE n >= 2
    )
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(a.n AS BIGINT) AS n_a, CAST(b.n AS BIGINT) AS n_b,
           round(a.m - b.m, 6) AS mean_diff,
           round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 6) AS t_stat,
           round(
             (a.v / a.n + b.v / b.n) * (a.v / a.n + b.v / b.n)
             / ((a.v / a.n) * (a.v / a.n) / (a.n - 1)
                + (b.v / b.n) * (b.v / b.n) / (b.n - 1)), 6) AS df_welch
    FROM st a JOIN st b ON a.event_type < b.event_type
    """,
    doc="Welch's unequal-variance t-test for every event-type pair over "
    "`value`: one grouped pass computes (n, sum, sumsq) per type; means, "
    "variances, t statistics and Welch-Satterthwaite df come from closed "
    "algebra over that 5-row table (variance as (ss - s^2/n)/(n-1) "
    "EXPLICITLY, not var_samp — the engines' streaming variance "
    "algorithms differ in association order, the explicit form is the "
    "same expression both sides). The A/B-testing significance primitive: "
    "at 100 TB it is one aggregation plus a |types|^2 self-join of a "
    "type-cardinality table.",
)
def welch_t_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value").alias("s"),
        F.sum(F.col("value") * F.col("value")).alias("ss"),
    )
    st = g.filter(F.col("n") >= 2).select(
        "event_type",
        "n",
        (F.col("s") / F.col("n")).alias("m"),
        ((F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1)).alias(
            "v"
        ),
    )
    a = st.select(
        F.col("event_type").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("m").alias("m_a"),
        F.col("v").alias("v_a"),
    )
    b = st.select(
        F.col("event_type").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("m").alias("m_b"),
        F.col("v").alias("v_b"),
    )
    se_a = F.col("v_a") / F.col("n_a")
    se_b = F.col("v_b") / F.col("n_b")
    t = (F.col("m_a") - F.col("m_b")) / F.sqrt(se_a + se_b)
    df = (se_a + se_b) * (se_a + se_b) / (
        se_a * se_a / (F.col("n_a") - 1) + se_b * se_b / (F.col("n_b") - 1)
    )
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .select(
            "type_a",
            "type_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.round(F.col("m_a") - F.col("m_b"), 6).alias("mean_diff"),
            F.round(t, 6).alias("t_stat"),
            F.round(df, 6).alias("df_welch"),
        )
    )


# ---- CUSUM change-point detection over the hourly series -------------------
_DENSE_SQL = """
    hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hr,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ), span AS (
      SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM hourly GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
      FROM span
    ), d AS (
      SELECT g.event_type, g.hr, coalesce(h.n, 0.0) AS n
      FROM grid g LEFT JOIN hourly h
        ON h.event_type = g.event_type AND h.hr = g.hr
    )
"""


@register(
    QUERIES,
    "cusum_changepoint_hourly",
    oracle=f"""
    WITH {_DENSE_SQL},
    mu AS (
      SELECT event_type, avg(n) AS mu, count(*) AS n_hours FROM d GROUP BY 1
    ), c AS (
      SELECT d.event_type, d.hr,
             sum(d.n - mu.mu) OVER (
               PARTITION BY d.event_type ORDER BY d.hr
             ) AS s
      FROM d JOIN mu USING (event_type)
    ), r AS (
      SELECT event_type, hr, round(s, 6) AS s6,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY round(abs(s), 6) DESC, hr
             ) AS rn
      FROM c
    ), rng AS (
      SELECT event_type, round(max(s) - min(s), 6) AS cusum_range FROM c
      GROUP BY 1
    )
    SELECT r.event_type,
           strftime(r.hr, '%Y-%m-%d %H:%M:%S') AS change_hr,
           r.s6 AS cusum_at_change,
           rng.cusum_range,
           CAST(mu.n_hours AS BIGINT) AS n_hours
    FROM r JOIN rng USING (event_type) JOIN mu USING (event_type)
    WHERE r.rn = 1
    """,
    doc="CUSUM change-point detection per event type: S_t = cumulative sum "
    "of hourly-count deviations from the series mean over the DENSIFIED "
    "hourly grid; the change-point estimate is argmax |S_t| (rounded-6 "
    "before ranking, hour tiebreak) and the CUSUM range max-min measures "
    "shift magnitude — the classic mean-shift detector, recurrence-free "
    "by construction. All windows run over the hours x types series "
    "(data-size-independent after the first groupBy), the same posture "
    "as the EWMA/Holt-Winters family.",
)
def cusum_changepoint_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_hourly(spark, sf_dir)
    mu = dense.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.count(F.lit(1)).alias("n_hours")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = (
        dense.join(F.broadcast(mu), "event_type")
        .withColumn("s", F.sum(F.col("n") - F.col("mu")).over(w))
    )
    rk = Window.partitionBy("event_type").orderBy(
        F.desc(F.round(F.abs(F.col("s")), 6)), "hr"
    )
    rng = c.groupBy("event_type").agg(
        F.round(F.max("s") - F.min("s"), 6).alias("cusum_range")
    )
    return (
        c.withColumn("rn", F.row_number().over(rk))
        .filter(F.col("rn") == 1)
        .join(F.broadcast(rng), "event_type")
        .select(
            "event_type",
            F.date_format("hr", "yyyy-MM-dd HH:mm:ss").alias("change_hr"),
            F.round("s", 6).alias("cusum_at_change"),
            "cusum_range",
            F.col("n_hours").cast("long").alias("n_hours"),
        )
    )


# ---- Autocorrelation function of the hourly series -------------------------
ACF_MAX_LAG = 24


@register(
    QUERIES,
    "acf_hourly_counts",
    oracle=f"""
    WITH {_DENSE_SQL},
    m2 AS (
      SELECT event_type, avg(n) AS mu FROM d GROUP BY 1
    ), dev AS (
      SELECT d.event_type, d.hr, d.n - m2.mu AS x
      FROM d JOIN m2 USING (event_type)
    ), den AS (
      SELECT event_type, sum(x * x) AS ss FROM dev GROUP BY 1
    ), lags AS (
      SELECT unnest(range(1, {ACF_MAX_LAG + 1})) AS lag
    ), num AS (
      SELECT a.event_type, l.lag, sum(a.x * b.x) AS sxy
      FROM dev a
      CROSS JOIN lags l
      JOIN dev b ON b.event_type = a.event_type
                AND b.hr = a.hr + to_hours(CAST(l.lag AS BIGINT))
      GROUP BY 1, 2
    )
    SELECT num.event_type, CAST(num.lag AS INT) AS lag,
           round(num.sxy / den.ss, 6) AS acf
    FROM num JOIN den USING (event_type)
    """,
    doc=f"Sample autocorrelation function (lags 1..{ACF_MAX_LAG}) of the "
    "densified hourly count series per event type: r_k = sum of lagged "
    "deviation products over the total squared deviation — the "
    "seasonality fingerprint (hourly data peaks at lag 24). The lag "
    "products come from a self-equi-join of the hours x types deviation "
    "series on (type, hr+k) — aggregate-sized on both sides, every lag "
    "in one shuffle; no per-row window state.",
)
def acf_hourly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_hourly(spark, sf_dir)
    mu = dense.groupBy("event_type").agg(F.avg("n").alias("mu"))
    dev = dense.join(F.broadcast(mu), "event_type").select(
        "event_type", "hr", (F.col("n") - F.col("mu")).alias("x")
    )
    den = dev.groupBy("event_type").agg(F.sum(F.col("x") * F.col("x")).alias("ss"))
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("int").alias("lag"))
    a = dev.crossJoin(F.broadcast(lags)).select(
        "event_type",
        "lag",
        (F.col("hr") + F.col("lag") * F.expr("INTERVAL 1 HOUR")).alias("hr_join"),
        F.col("x").alias("xa"),
    )
    b = dev.select("event_type", F.col("hr").alias("hr_join"), F.col("x").alias("xb"))
    num = (
        a.join(b, ["event_type", "hr_join"])
        .groupBy("event_type", "lag")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("sxy"))
    )
    return num.join(F.broadcast(den), "event_type").select(
        "event_type", "lag", F.round(F.col("sxy") / F.col("ss"), 6).alias("acf")
    )


# ---- 2-D histogram (heatmap aggregation) -----------------------------------
H2D_PRICE_BIN = 5000.0
H2D_QTY_BIN = 5.0


@register(
    QUERIES,
    "histogram2d_price_quantity",
    oracle=f"""
    SELECT CAST(floor(l_extendedprice / {H2D_PRICE_BIN}) AS BIGINT) AS price_bin,
           CAST(floor(l_quantity / {H2D_QTY_BIN}) AS BIGINT) AS qty_bin,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(l_extendedprice), 2) AS sum_price
    FROM lineitem
    GROUP BY 1, 2
    """,
    doc="2-D binned aggregation (the heatmap primitive): lineitem binned "
    "on (price/5000, quantity/5), per-cell counts and mass. One grouped "
    "pass, partial-aggregated map-side; the output is the bin grid "
    "(bounded by the value domain, not the data).",
)
def histogram2d_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / H2D_PRICE_BIN).cast("long").alias("price_bin"),
        F.floor(F.col("l_quantity") / H2D_QTY_BIN).cast("long").alias("qty_bin"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


# ---- Exact Gini coefficient by rank algebra --------------------------------
@register(
    QUERIES,
    "gini_value_by_type",
    oracle="""
    WITH cents AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ), grp AS (
      SELECT event_type, v, count(*) AS m FROM cents GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, v, m,
             sum(m) OVER (PARTITION BY event_type ORDER BY v) - m AS below
      FROM grp
    ), contrib AS (
      -- every product promoted to HUGEINT BEFORE multiplying: m*below and
      -- m*(m+1) in BIGINT would overflow (DuckDB errors, Spark wraps) at
      -- the tie counts 1e11-rows-per-type reaches
      SELECT event_type,
             sum(CAST(v AS HUGEINT)
                 * (CAST(m AS HUGEINT) * below
                    + (CAST(m AS HUGEINT) * (m + 1)) // 2)) AS swx,
             sum(CAST(v AS HUGEINT) * m) AS sx,
             sum(m) AS n
      FROM cum GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(2.0 * CAST(swx AS DOUBLE) / (n * CAST(sx AS DOUBLE))
                 - (n + 1.0) / n, 6) AS gini
    FROM contrib
    """,
    doc="Exact Gini coefficient of `value` per event type WITHOUT a "
    "per-row rank: Gini's sum-of-rank-weighted-values decomposes over "
    "VALUE GROUPS — for m ties above `below` smaller rows, "
    "sum(i*x) = v*(m*below + m(m+1)/2) — so the only window runs over "
    "the per-type DISTINCT-value table (bounded by value cardinality, "
    "not row count; same move as the RFM banded bounds). m(m+1)/2 uses "
    "INTEGER division on the even factor (exact, and no m*(m+1) long "
    "intermediate) — a true division would make swx a double-typed sum "
    "with order-dependent ULP noise (ADVICE r6). Every product forms in "
    "decimal(19,0)/HUGEINT operands, never int64 (which wraps near 9.2e18 "
    "— cents*rank products reach that around 1e11 rows/type, real at "
    "100 TB); the one remaining ceiling is decimal(38,0)/HUGEINT at ~1e38, "
    "identical and LOUD in both engines. Two float divisions at the very "
    "end, on identical integers.",
)
def gini_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v"),
    )
    grp = cents.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("m"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grp.withColumn("below", F.sum("m").over(w) - F.col("m"))
    # Every PRODUCT is formed in decimal, never in int64 (r7 review: casting
    # the already-wrapped long product to decimal protected nothing). m and
    # below are row counts (<= n, long-safe); their decimal(19,0) product is
    # exact up to 1e38. tri = m(m+1)/2 splits on the even factor so BOTH
    # factors stay <= m+1 before the decimal multiply — no long m*(m+1)
    # intermediate, which wraps at m ~ 3e9 (real tie counts at 1e11
    # rows/type). One decimal ceiling remains and is documented: swx
    # saturates Spark's decimal(38,0) / DuckDB's HUGEINT around 1e38 —
    # identical ceilings, both loud (null/error), never silent.
    m_d = F.col("m").cast("decimal(19,0)")
    below_d = F.col("below").cast("decimal(19,0)")
    tri = F.when(
        F.col("m") % 2 == 0,
        F.expr("m div 2").cast("decimal(19,0)")
        * (F.col("m") + 1).cast("decimal(19,0)"),
    ).otherwise(m_d * F.expr("(m + 1) div 2").cast("decimal(19,0)"))
    v_d = F.col("v").cast("decimal(19,0)")
    contrib = cum.groupBy("event_type").agg(
        F.sum((v_d * (m_d * below_d + tri)).cast("decimal(38,0)")).alias(
            "swx"
        ),
        F.sum((v_d * m_d).cast("decimal(38,0)")).alias("sx"),
        F.sum("m").alias("n"),
    )
    return contrib.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(
            2.0 * F.col("swx").cast("double")
            / (F.col("n") * F.col("sx").cast("double"))
            - (F.col("n") + 1.0) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---- Nonparametric two-sample tests (distinct-value rank algebra) ----------
@register(
    QUERIES,
    "mann_whitney_u_event_types",
    oracle="""
    WITH cents AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ), grp AS (
      SELECT event_type, v, count(*) AS m FROM cents GROUP BY 1, 2
    ), types AS (SELECT DISTINCT event_type FROM cents),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ), tagged AS (
      SELECT p.ta, p.tb, g.event_type, g.v, g.m
      FROM pairs p JOIN grp g ON g.event_type IN (p.ta, p.tb)
    ), vals AS (  -- combined distinct values per pair, with both groups' ties
      SELECT ta, tb, v,
             sum(m) AS mt,
             sum(CASE WHEN event_type = ta THEN m ELSE 0 END) AS ma
      FROM tagged GROUP BY 1, 2, 3
    ), cum AS (
      SELECT ta, tb, v, mt, ma,
             sum(mt) OVER (PARTITION BY ta, tb ORDER BY v) - mt AS below
      FROM vals
    ), agg AS (  -- midrank sum for group A + group sizes + tie term
      SELECT ta, tb,
             sum(ma * (below + (mt + 1) / 2.0)) AS ra,
             sum(ma) AS na, sum(mt - ma) AS nb,
             sum(CAST(mt AS DOUBLE) * mt * mt - mt) AS ties
      FROM cum GROUP BY 1, 2
    )
    SELECT ta AS type_a, tb AS type_b,
           CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           round(ra - na * (na + 1) / 2.0, 6) AS u_stat,
           round(
             (ra - na * (na + 1) / 2.0 - na * nb / 2.0)
             / sqrt(na * nb / 12.0
                    * ((na + nb + 1)
                       - ties / ((na + nb) * (na + nb - 1.0)))), 6) AS z_stat
    FROM agg
    """,
    doc="Exact Mann-Whitney U for every event-type pair WITHOUT a per-row "
    "rank: midranks decompose over the pair's combined DISTINCT-value "
    "groups (midrank = below + (ties+1)/2, summed as m_a x midrank), and "
    "the normal approximation uses the standard tie-corrected variance. "
    "The only window runs over pairs x distinct values (aggregate-sized); "
    "integer cents keep every count exact, two float divisions at the "
    "end. The nonparametric complement to welch_t_event_values for "
    "non-normal value distributions.",
)
def mann_whitney_u_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
    )
    grp = cents.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("m"))
    types = cents.select("event_type").distinct()
    ta = types.select(F.col("event_type").alias("ta"))
    tb = types.select(F.col("event_type").alias("tb"))
    pairs = ta.join(tb, F.col("ta") < F.col("tb"))
    tagged = grp.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")),
    )
    vals = tagged.groupBy("ta", "tb", "v").agg(
        F.sum("m").alias("mt"),
        F.sum(F.when(F.col("event_type") == F.col("ta"), F.col("m")).otherwise(0)).alias(
            "ma"
        ),
    )
    w = (
        Window.partitionBy("ta", "tb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = vals.withColumn("below", F.sum("mt").over(w) - F.col("mt"))
    agg = cum.groupBy("ta", "tb").agg(
        F.sum(F.col("ma") * (F.col("below") + (F.col("mt") + 1) / 2.0)).alias("ra"),
        F.sum("ma").alias("na"),
        F.sum(F.col("mt") - F.col("ma")).alias("nb"),
        F.sum(
            F.col("mt").cast("double") * F.col("mt") * F.col("mt") - F.col("mt")
        ).alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    # decimal(19,0) operands for the count products (the gini/lorenz r7
    # rule): na*(na+1) and na*nb wrap int64 at the 100 TB posture — Spark
    # would wrap silently where the DuckDB oracle errors loudly. Bit-
    # identical at test scale (exact integers either way).
    na_d = na.cast("decimal(19,0)")
    nb_d = nb.cast("decimal(19,0)")
    u = F.col("ra") - (na_d * (na_d + 1)).cast("double") / 2.0
    var = (
        (na_d * nb_d).cast("double") / 12.0
        * ((na + nb + 1) - F.col("ties") / ((na + nb) * (na + nb - 1.0)))
    )
    return agg.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        na.cast("long").alias("n_a"),
        nb.cast("long").alias("n_b"),
        F.round(u, 6).alias("u_stat"),
        F.round((u - na * nb / 2.0) / F.sqrt(var), 6).alias("z_stat"),
    )


@register(
    QUERIES,
    "ks_two_sample_event_types",
    oracle="""
    WITH cents AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ), grp AS (
      SELECT event_type, v, count(*) AS m FROM cents GROUP BY 1, 2
    ), types AS (SELECT DISTINCT event_type FROM cents),
    pairs AS (
      SELECT a.event_type AS ta, b.event_type AS tb
      FROM types a JOIN types b ON a.event_type < b.event_type
    ), tagged AS (
      SELECT p.ta, p.tb, g.event_type, g.v, g.m
      FROM pairs p JOIN grp g ON g.event_type IN (p.ta, p.tb)
    ), vals AS (
      SELECT ta, tb, v,
             sum(CASE WHEN event_type = ta THEN m ELSE 0 END) AS ma,
             sum(CASE WHEN event_type = tb THEN m ELSE 0 END) AS mb
      FROM tagged GROUP BY 1, 2, 3
    ), cum AS (
      SELECT ta, tb, v,
             sum(ma) OVER (PARTITION BY ta, tb ORDER BY v) AS ca,
             sum(mb) OVER (PARTITION BY ta, tb ORDER BY v) AS cb,
             sum(ma) OVER (PARTITION BY ta, tb) AS na,
             sum(mb) OVER (PARTITION BY ta, tb) AS nb
      FROM vals
    )
    SELECT ta AS type_a, tb AS type_b,
           CAST(max(na) AS BIGINT) AS n_a, CAST(max(nb) AS BIGINT) AS n_b,
           round(max(abs(CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)), 6)
             AS ks_d
    FROM cum GROUP BY 1, 2
    """,
    doc="Two-sample Kolmogorov-Smirnov D for every event-type pair: the "
    "ECDF difference is evaluated only at the pair's combined DISTINCT "
    "values (where the sup is attained), via one cumulative window over "
    "the pairs x values table — aggregate-sized, no per-row ranks, "
    "integer counts until the final ECDF division. Distribution-shape "
    "complement to the location tests (Welch t, Mann-Whitney U).",
)
def ks_two_sample_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
    )
    grp = cents.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("m"))
    types = cents.select("event_type").distinct()
    pairs = types.select(F.col("event_type").alias("ta")).join(
        types.select(F.col("event_type").alias("tb")), F.col("ta") < F.col("tb")
    )
    tagged = grp.join(
        F.broadcast(pairs),
        (F.col("event_type") == F.col("ta")) | (F.col("event_type") == F.col("tb")),
    )
    vals = tagged.groupBy("ta", "tb", "v").agg(
        F.sum(F.when(F.col("event_type") == F.col("ta"), F.col("m")).otherwise(0)).alias(
            "ma"
        ),
        F.sum(F.when(F.col("event_type") == F.col("tb"), F.col("m")).otherwise(0)).alias(
            "mb"
        ),
    )
    wc = (
        Window.partitionBy("ta", "tb")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("ta", "tb")
    cum = vals.select(
        "ta",
        "tb",
        F.sum("ma").over(wc).alias("ca"),
        F.sum("mb").over(wc).alias("cb"),
        F.sum("ma").over(wt).alias("na"),
        F.sum("mb").over(wt).alias("nb"),
    )
    d = F.abs(
        F.col("ca").cast("double") / F.col("na")
        - F.col("cb").cast("double") / F.col("nb")
    )
    return cum.groupBy(
        F.col("ta").alias("type_a"), F.col("tb").alias("type_b")
    ).agg(
        F.max("na").cast("long").alias("n_a"),
        F.max("nb").cast("long").alias("n_b"),
        F.round(F.max(d), 6).alias("ks_d"),
    )


# ---- Robust means (trimmed / winsorized) -----------------------------------
TRIM_FRAC = 0.1  # fraction trimmed/clamped on EACH side


@register(
    QUERIES,
    "trimmed_winsorized_means",
    oracle=f"""
    WITH cents AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ), grp AS (
      SELECT event_type, v, count(*) AS m FROM cents GROUP BY 1, 2
    ), nn AS (
      SELECT event_type, sum(m) AS n,
             CAST(floor(sum(m) * {TRIM_FRAC}) AS BIGINT) AS k
      FROM grp GROUP BY 1
    ), cum AS (
      SELECT g.event_type, g.v, g.m, nn.n, nn.k,
             sum(g.m) OVER (PARTITION BY g.event_type ORDER BY g.v) - g.m
               AS below
      FROM grp g JOIN nn ON nn.event_type = g.event_type
    ), r AS (  -- retained rows of each value group inside ranks (k, n-k]
      SELECT event_type, v, m, n, k,
             greatest(0, least(below + m, n - k) - greatest(below, k)) AS r
      FROM cum
    ), agg AS (
      SELECT event_type, max(n) AS n, max(k) AS k,
             sum(v * r) AS tsum,
             min(CASE WHEN r > 0 THEN v END) AS lo,
             max(CASE WHEN r > 0 THEN v END) AS hi
      FROM r GROUP BY 1
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(tsum / (n - 2 * k) / 100.0, 6) AS trimmed_mean,
           round((tsum + k * lo + k * hi) / CAST(n AS DOUBLE) / 100.0, 6)
             AS winsorized_mean
    FROM agg
    """,
    doc=f"Exact {int(TRIM_FRAC * 100)}%-each-side trimmed and winsorized "
    "means per event type WITHOUT any per-row rank: each distinct-value "
    "group retains max(0, min(below+m, n-k) - max(below, k)) rows inside "
    "the trim window, so one distinct-value window yields both robust "
    "means in closed form (winsorization adds k copies of the retained "
    "extremes). Integer cents until the final divisions — bit-identical "
    "across engines. The outlier-robust location estimates next to "
    "events_mad_outliers.",
)
def trimmed_winsorized_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
    )
    grp = cents.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("m"))
    nn = grp.groupBy("event_type").agg(
        F.sum("m").alias("n"),
        F.floor(F.sum("m") * TRIM_FRAC).cast("long").alias("k"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grp.join(F.broadcast(nn), "event_type").withColumn(
        "below", F.sum("m").over(w) - F.col("m")
    )
    retained = F.greatest(
        F.lit(0),
        F.least(F.col("below") + F.col("m"), F.col("n") - F.col("k"))
        - F.greatest(F.col("below"), F.col("k")),
    )
    r = cum.withColumn("r", retained)
    agg = r.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max("k").alias("k"),
        F.sum(F.col("v") * F.col("r")).alias("tsum"),
        F.min(F.when(F.col("r") > 0, F.col("v"))).alias("lo"),
        F.max(F.when(F.col("r") > 0, F.col("v"))).alias("hi"),
    )
    return agg.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(F.col("tsum") / (F.col("n") - 2 * F.col("k")) / 100.0, 6).alias(
            "trimmed_mean"
        ),
        F.round(
            (F.col("tsum") + F.col("k") * F.col("lo") + F.col("k") * F.col("hi"))
            / F.col("n").cast("double")
            / 100.0,
            6,
        ).alias("winsorized_mean"),
    )


# ---- Rank correlation (Spearman, with Pearson for contrast) ----------------
@register(
    QUERIES,
    "spearman_pearson_price_quantity",
    oracle="""
    WITH rows_ AS (
      SELECT CAST(l_quantity AS BIGINT) AS x,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ), gx AS (
      SELECT x, count(*) AS m FROM rows_ GROUP BY 1
    ), rx AS (
      SELECT x, sum(m) OVER (ORDER BY x) - m + (m + 1) / 2.0 AS r
      FROM gx
    ), gy AS (
      SELECT y, count(*) AS m FROM rows_ GROUP BY 1
    ), ry AS (
      SELECT y, sum(m) OVER (ORDER BY y) - m + (m + 1) / 2.0 AS r
      FROM gy
    ), j AS (
      SELECT CAST(rows_.x AS DOUBLE) AS xv, CAST(rows_.y AS DOUBLE) AS yv,
             rx.r AS rx, ry.r AS ry
      FROM rows_ JOIN rx USING (x) JOIN ry USING (y)
    ), s AS (
      SELECT count(*) AS n,
             sum(xv) AS sx, sum(yv) AS sy, sum(xv*xv) AS sxx,
             sum(yv*yv) AS syy, sum(xv*yv) AS sxy,
             sum(rx) AS srx, sum(ry) AS sry, sum(rx*rx) AS srxx,
             sum(ry*ry) AS sryy, sum(rx*ry) AS srxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((n*sxy - sx*sy)
                 / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS pearson_r,
           round((n*srxy - srx*sry)
                 / sqrt((n*srxx - srx*srx) * (n*sryy - sry*sry)), 6)
             AS spearman_rho
    FROM s
    """,
    doc="Spearman rank correlation (midranks, tie-exact) next to Pearson "
    "over (l_quantity, l_extendedprice): per-row ranks come from JOINING "
    "each row to its column's distinct-value midrank dictionary "
    "(midrank = below + (m+1)/2 — a value-cardinality window, never a "
    "row window), then one moment aggregate computes both coefficients. "
    "The monotone-vs-linear association contrast in one pass; at 100 TB "
    "the dictionaries are value-cardinality tables hash-joined on the "
    "value key.",
)
def spearman_pearson_price_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").alias("y"),
        # three consumers (two rank dictionaries + the final join):
        # localCheckpoint, not persist — a one-shot query would otherwise pin
        # a lineitem-sized projection in executor cache for the whole session
        # with nothing ever unpersisting it (ADVICE r6); checkpointed blocks
        # are reference-released when the DataFrames go out of scope.
    ).transform(cut())

    def midranks(col: str, band_width: int):
        """Distinct-value midrank dictionary via the BANDED two-level
        prefix (RFM precedent): the y dictionary is near-row-cardinality
        (l_extendedprice is almost unique), so a flat ORDER BY window
        would be a single-task sort of the whole dictionary at scale.
        Within-band windows are partitioned by band; only the ~value-range/
        band_width band-total table sees a global window."""
        g = rows.groupBy(col).agg(F.count(F.lit(1)).alias("m"))
        g = g.withColumn("band", (F.col(col) / band_width).cast("long"))
        wb = (
            Window.partitionBy("band")
            .orderBy(col)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        intra = g.withColumn("intra", F.sum("m").over(wb))
        btot = g.groupBy("band").agg(F.sum("m").alias("bm"))
        wo = Window.orderBy("band").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        offs = btot.select(
            "band", (F.sum("bm").over(wo) - F.col("bm")).alias("off")
        )
        return intra.join(F.broadcast(offs), "band").select(
            col,
            (
                F.col("off") + F.col("intra") - F.col("m") + (F.col("m") + 1) / 2.0
            ).alias(f"r{col}"),
        )

    j = (
        rows.join(midranks("x", band_width=10), "x")
        .join(midranks("y", band_width=100_000), "y")
        .select(
            F.col("x").cast("double").alias("xv"),
            F.col("y").cast("double").alias("yv"),
            "rx",
            "ry",
        )
    )
    s = j.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xv").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("xv") * F.col("xv")).alias("sxx"),
        F.sum(F.col("yv") * F.col("yv")).alias("syy"),
        F.sum(F.col("xv") * F.col("yv")).alias("sxy"),
        F.sum("rx").alias("srx"),
        F.sum("ry").alias("sry"),
        F.sum(F.col("rx") * F.col("rx")).alias("srxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("sryy"),
        F.sum(F.col("rx") * F.col("ry")).alias("srxy"),
    )
    n = F.col("n").cast("double")
    pear = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    rho = (n * F.col("srxy") - F.col("srx") * F.col("sry")) / F.sqrt(
        (n * F.col("srxx") - F.col("srx") * F.col("srx"))
        * (n * F.col("sryy") - F.col("sry") * F.col("sry"))
    )
    return s.select(
        F.col("n").cast("long").alias("n"),
        F.round(pear, 6).alias("pearson_r"),
        F.round(rho, 6).alias("spearman_rho"),
    )


# ---- Lorenz curve (cumulative value share at deciles) ----------------------
@register(
    QUERIES,
    "lorenz_curve_deciles",
    oracle="""
    WITH cents AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS v
      FROM events
    ), grp AS (
      SELECT event_type, v, count(*) AS m FROM cents GROUP BY 1, 2
    ), nn AS (
      SELECT event_type, sum(m) AS n, sum(CAST(v AS HUGEINT) * m) AS total
      FROM grp GROUP BY 1
    ), cum AS (
      SELECT g.event_type, g.v, g.m, nn.n, nn.total,
             sum(g.m) OVER (PARTITION BY g.event_type ORDER BY g.v) - g.m
               AS below
      FROM grp g JOIN nn ON nn.event_type = g.event_type
    ), dec AS (SELECT unnest(range(1, 11)) AS d),
    pts AS (  -- rows kept at decile d: the poorest ceil(d*n/10) rows;
              -- v promoted to HUGEINT BEFORE the multiply (BIGINT products
              -- overflow loudly in DuckDB at 100 TB cent totals)
      SELECT cum.event_type, dec.d, cum.n, cum.total,
             sum(CAST(cum.v AS HUGEINT) * least(cum.m,
                 greatest(0, CAST(ceil(dec.d * cum.n / 10.0) AS BIGINT)
                             - cum.below))) AS csum
      FROM cum CROSS JOIN dec
      GROUP BY 1, 2, 3, 4
    )
    SELECT event_type, CAST(d AS INT) AS decile,
           round(csum / CAST(total AS DOUBLE), 6) AS cum_share
    FROM pts
    """,
    doc="Lorenz curve at population deciles per event type: the cumulative "
    "value share of the poorest ceil(d*n/10) rows, computed from the SAME "
    "distinct-value cumulative table as the Gini (each value group "
    "contributes min(m, k - below) rows at cutoff k — integer boundary "
    "rule, no percentile interpolation). The 10-row decile grid is a "
    "literal cross join; integer cents until the final share division. "
    "Together with gini_value_by_type this is the complete inequality "
    "audit (curve + scalar).",
)
def lorenz_curve_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    cents = e.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("v")
    )
    grp = cents.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("m"))
    # products formed from decimal(19,0) OPERANDS (oracle: HUGEINT): v*m in
    # int64 wraps near 9.2e18 — reachable by cent totals at the 100 TB row
    # counts, and casting the wrapped product would protect nothing (r7
    # review); the decimal(38,0) sum accumulator matches HUGEINT's ceiling.
    v_d = F.col("v").cast("decimal(19,0)")
    nn = grp.groupBy("event_type").agg(
        F.sum("m").alias("n"),
        F.sum((v_d * F.col("m").cast("decimal(19,0)")).cast("decimal(38,0)"))
        .alias("total"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = grp.join(F.broadcast(nn), "event_type").withColumn(
        "below", F.sum("m").over(w) - F.col("m")
    )
    dec = spark.range(1, 11).select(F.col("id").cast("int").alias("d"))
    k = F.ceil(F.col("d") * F.col("n") / 10.0).cast("long")
    kept = F.least(F.col("m"), F.greatest(F.lit(0), k - F.col("below")))
    pts = (
        cum.crossJoin(F.broadcast(dec))
        .groupBy("event_type", "d", "n", "total")
        .agg(
            F.sum(
                (
                    F.col("v").cast("decimal(19,0)")
                    * kept.cast("decimal(19,0)")
                ).cast("decimal(38,0)")
            ).alias("csum")
        )
    )
    return pts.select(
        "event_type",
        F.col("d").alias("decile"),
        F.round(
            F.col("csum").cast("double") / F.col("total").cast("double"), 6
        ).alias("cum_share"),
    )
