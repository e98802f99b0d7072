"""Distributed ML training steps as relational dataflow.

Full-batch logistic-regression gradient descent, unrolled: every step is
ONE aggregate over the data (the two gradient components + the log-loss),
and the only driver-side state is the 2-float parameter vector — the same
model-artifact pattern as the IVF centroids and the PQ codebook. This is
the shape a 100 TB trainer actually uses for shallow models (each step =
one map-reduce pass; parameters broadcast back into the next pass's
closure as literals).

Cross-engine determinism: the collected gradient scalars are snapped to
the 1e-9 grid with the repo's floor-nudge rule before they parameterize
the next step, so the two engines iterate over IDENTICAL parameter
vectors and float-noise cannot compound across steps.

Reference parity note: the reference engine (Alvearie
hri-flink-validation-passthrough) has no ML surface; north-star extension
next to ``ols_price_on_quantity`` (closed-form regression) and
``kmeans_one_iteration``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import dot as fdot
from ..functions import py_floor_nudge
from ..plans import QuerySpec, register
from ..session import load_table
from ..materialize import cut

QUERIES: dict[str, QuerySpec] = {}

LR_STEPS = 3
LR_RATE = 1.0
LR_XSCALE = 50.0  # l_quantity in [1, 50] -> x in (0, 1]


def _lr_oracle() -> str:
    # chained CTEs: step k computes (loss at params_{k-1}, gradient) in one
    # aggregate, then params_k = params_{k-1} - lr * grad, snapped at 1e-9 —
    # identical algebra to the Spark driver loop.
    lines = [
        f"""d AS (
      SELECT l_quantity / {LR_XSCALE} AS x,
             CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END AS y
      FROM lineitem
    )""",
        "p0 AS (SELECT 0.0 AS w0, 0.0 AS w1)",
    ]
    for k in range(1, LR_STEPS + 1):
        p = f"p{k - 1}"
        lines.append(
            f"""s{k} AS (
      SELECT w0, w1,
             avg(1.0 / (1.0 + exp(-(w0 + w1 * x))) - y) AS g0,
             avg((1.0 / (1.0 + exp(-(w0 + w1 * x))) - y) * x) AS g1,
             avg(-(y * ln(1.0 / (1.0 + exp(-(w0 + w1 * x))))
                   + (1.0 - y) * ln(1.0 - 1.0 / (1.0 + exp(-(w0 + w1 * x))))))
               AS loss
      FROM d CROSS JOIN {p} GROUP BY w0, w1
    ), p{k} AS (
      SELECT floor((w0 - {LR_RATE} * g0) * 1000000000 + 0.500001) / 1000000000 AS w0,
             floor((w1 - {LR_RATE} * g1) * 1000000000 + 0.500001) / 1000000000 AS w1
      FROM s{k}
    )"""
        )
    steps_union = "\n      UNION ALL\n      ".join(
        f"SELECT {k} AS step, p{k}.w0, p{k}.w1, s{k}.loss FROM p{k} CROSS JOIN s{k}"
        for k in range(1, LR_STEPS + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(lines)
        + f"""
    SELECT CAST(step AS BIGINT) AS step,
           floor(w0 * 1000000 + 0.500001) / 1000000 AS w0,
           floor(w1 * 1000000 + 0.500001) / 1000000 AS w1,
           floor(loss * 1000000 + 0.500001) / 1000000 AS log_loss
    FROM ({steps_union})
    """
    )


def _snap9(v: float) -> float:
    return py_floor_nudge(v, 9)


@register(
    QUERIES,
    "logistic_gd_returnflag",
    oracle=_lr_oracle(),
    doc="Full-batch logistic regression P(l_returnflag='R') ~ sigmoid(w0 + "
    "w1 * quantity/50), 3 gradient-descent steps: each step is ONE "
    "aggregate over lineitem producing (loss at current params, both "
    "gradient components); the 2-float parameter vector is the only "
    "driver state, snapped to the 1e-9 grid between steps so both engines "
    "iterate identical params. Output: the 3-row training trajectory "
    "(step, w0, w1, loss-before-update). One map-reduce pass per step — "
    "the distributed-shallow-trainer shape.",
)
def logistic_gd_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # persisted: every GD step re-reads the (x, y) projection — 16 bytes/row,
    # the standard cache-the-training-set trade (MLlib does the same); the
    # alternative is one full lineitem scan per step
    d = li.select(
        (F.col("l_quantity") / LR_XSCALE).alias("x"),
        F.when(F.col("l_returnflag") == "R", 1.0).otherwise(0.0).alias("y"),
    ).persist()
    w0, w1 = 0.0, 0.0
    rows = []
    # the train cache serves only the GD steps; the returned trajectory is
    # literal rows with no lineage to it — release instead of pinning a
    # lineitem-projection-sized entry per invocation (r12 review). finally:
    # a failure mid-loop must not leak exactly the entry the release
    # targets (ADVICE r12).
    try:
        for step in range(1, LR_STEPS + 1):
            z = F.lit(w0) + F.lit(w1) * F.col("x")
            s = 1.0 / (1.0 + F.exp(-z))
            g = d.agg(
                F.avg(s - F.col("y")).alias("g0"),
                F.avg((s - F.col("y")) * F.col("x")).alias("g1"),
                F.avg(
                    -(
                        F.col("y") * F.log(s)
                        + (1.0 - F.col("y")) * F.log(1.0 - s)
                    )
                ).alias("loss"),
            ).collect()[0]
            if g["g0"] is None:
                # empty training set: avg over zero rows — no gradient, no
                # trajectory (r14 empty-corpus sweep)
                break
            rows.append((step, w0, w1, float(g["loss"])))
            w0 = _snap9(w0 - LR_RATE * float(g["g0"]))
            w1 = _snap9(w1 - LR_RATE * float(g["g1"]))
    finally:
        d.unpersist()
    # trajectory rows report the UPDATED params per step (matching the
    # oracle's p_k) alongside the loss measured before that update
    out = [
        (step, nw0, nw1, loss)
        for (step, _ow0, _ow1, loss), (nw0, nw1) in zip(
            rows, [(r[1], r[2]) for r in rows[1:]] + [(w0, w1)]
        )
    ]

    def r6(v: float) -> float:
        return py_floor_nudge(v, 6)

    return spark.createDataFrame(
        [(s, r6(a), r6(b), r6(loss)) for s, a, b, loss in out],
        "step long, w0 double, w1 double, log_loss double",
    )


# ---- PCA by matrix-free power iteration (the spectral member of the
# iterative-trainer family: PageRank / GD / Lloyd / now PCA) --------------
PCA_ITERS = 3
PCA_DIM = 64  # embeddings table vector width


def _pca_oracle() -> str:
    s9 = "floor({x} * 1000000000 + 0.500001) / 1000000000"
    s6 = "floor({x} * 1000000 + 0.500001) / 1000000"
    ctes = [
        "v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings)",
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v)",
        """mx AS (
      SELECT CAST(generate_subscripts(e, 1) AS INTEGER) AS dim, unnest(e) AS x
      FROM v
    )""",
        f"""mu AS (
      SELECT dim, {s9.format(x='avg(x)')} AS m FROM mx GROUP BY dim
    )""",
        "mul AS (SELECT list(m ORDER BY dim) AS mu FROM mu)",
        f"w0 AS (SELECT list_transform(range(1, {PCA_DIM + 1}), i -> 0.125) AS w)",
    ]
    rng = f"range(1, {PCA_DIM + 1})"
    # MIRROR the Spark side's algebra exactly (not just its mathematics):
    # s = e_raw . w - c0 with c0 = mu . w a scalar, and the centered
    # co-moment g[d] = (sum s*e_raw[d] - mu[d]*sum s)/n over RAW vectors —
    # centering a row per element and centering by scalar algebra differ in
    # IEEE754, and a reformulation gap on top of the accepted engine-order
    # drift would double this query's exposure to the 1e-9 snap-boundary
    # pitfall class.
    for k in range(1, PCA_ITERS + 1):
        p = f"w{k - 1}"
        ctes.append(
            f"""c0_{k} AS (
      SELECT list_aggregate(list_transform({rng}, i -> mul.mu[i] * p.w[i]),
                            'sum') AS c0
      FROM mul CROSS JOIN {p} p
    ), s{k} AS (
      SELECT v.e,
             list_aggregate(list_transform({rng}, i -> v.e[i] * p.w[i]),
                            'sum') - c0_{k}.c0 AS s
      FROM v CROSS JOIN {p} p CROSS JOIN c0_{k}
    ), gr{k} AS (
      SELECT CAST(generate_subscripts(e, 1) AS INTEGER) AS dim,
             unnest(e) AS x, s
      FROM s{k}
    ), g{k} AS (
      SELECT gr{k}.dim,
             {s9.format(x='(sum(s * x) - any_value(mu.m) * sum(s)) / any_value(nn.n)')} AS g
      FROM gr{k} JOIN mu ON mu.dim = gr{k}.dim CROSS JOIN nn
      GROUP BY gr{k}.dim
    ), gl{k} AS (SELECT list(g ORDER BY dim) AS g FROM g{k}
    ), nrm{k} AS (
      SELECT sqrt(list_aggregate(list_transform(g, x -> x * x), 'sum')) AS nrm
      FROM gl{k}
    ), w{k} AS (
      SELECT list_transform(g.g,
               x -> floor(x / n.nrm * 1000000000 + 0.500001) / 1000000000) AS w
      FROM gl{k} g CROSS JOIN nrm{k} n
    ), out{k} AS (
      SELECT {k} AS iteration,
             (SELECT {s6.format(x=f"list_aggregate(list_transform({rng}, "
                                 "i -> p.w[i] * g.g[i]), 'sum')")}
              FROM {p} p CROSS JOIN gl{k} g) AS eigenvalue,
             (SELECT {s6.format(x=f"list_aggregate(list_transform({rng}, "
                                 "i -> abs(cur.w[i] - p.w[i])), 'sum')")}
              FROM w{k} cur CROSS JOIN {p} p) AS delta,
             (SELECT CAST(dim AS BIGINT) FROM (
                SELECT CAST(generate_subscripts(w, 1) AS INTEGER) - 1 AS dim,
                       unnest(w) AS wv FROM w{k})
              ORDER BY abs(wv) DESC, dim LIMIT 1) AS leading_dim,
             (SELECT {s6.format(x='wv')} FROM (
                SELECT CAST(generate_subscripts(w, 1) AS INTEGER) - 1 AS dim,
                       unnest(w) AS wv FROM w{k})
              ORDER BY abs(wv) DESC, dim LIMIT 1) AS leading_loading
    )"""
        )
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM out{k}" for k in range(1, PCA_ITERS + 1)
    )
    return (
        "\n    WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(iteration AS BIGINT) AS iteration, eigenvalue, delta,
           leading_dim, leading_loading
    FROM ({union})
    """
    )


@register(
    QUERIES,
    "pca_power_iteration",
    oracle=_pca_oracle(),
    doc=f"Top principal component of the {PCA_DIM}-dim embeddings by "
    f"MATRIX-FREE power iteration, {PCA_ITERS} unrolled rounds: per round, "
    "G*w is computed as sum_rows(x * (x . w)) / n — the in-row dot against "
    "the LITERAL broadcast w in codegen (zero shuffle), then ONE "
    "posexplode groupBy whose shuffle carries only dim-cardinality "
    "partials; the 64x64 Gram matrix is never materialized (at 100 TB it "
    "never could be per-row). Vectors are mean-centered once against the "
    "snapped literal mean and PERSISTED; each round re-scans only that "
    "projection. The 64-float iterate is collected, normalized, snapped "
    "to the 1e-9 grid, and re-broadcast — the GD/Lloyd model-artifact "
    "loop. Output: convergence trajectory (Rayleigh eigenvalue, L1 step "
    "delta, leading dimension) per iteration; deltas shrink as w aligns "
    "with the top eigenvector.",
)
def pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE base scan total: the raw projection is cached, the mean pass and
    # every iteration read the cache, and centering is a cheap in-row
    # zip_with against the literal snapped mean (recomputing 64
    # subtractions per row per pass beats a second cached copy)
    v = load_table(spark, sf_dir, "embeddings").filter(
        # NULL embeddings are unindexable — same rule as similarity._emb
        # (r14 null-corpus sweep)
        F.col("embedding").isNotNull()
    ).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).persist()
    try:
        mu_rows = (
            v.select(F.posexplode("e").alias("dim", "x"))
            .groupBy("dim")
            .agg(F.avg("x").alias("m"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        if not mu_rows:
            # empty corpus: nothing to center, no spectrum (r14
            # empty-corpus sweep)
            rows = []
        else:
            n = int(mu_rows[0]["n"])  # every dim counts all rows
            mu = [0.0] * PCA_DIM
            for r in mu_rows:
                mu[int(r["dim"])] = _snap9(float(r["m"]))
            # deterministic init: normalized all-ones (1/sqrt(64))
            w = [0.125] * PCA_DIM
            rows = _pca_rounds(v, mu, w, n)
    finally:
        # the trajectory is literal rows — release the per-call train cache
        # (r12 review, same rule as logistic_gd); finally so a mid-iteration
        # failure doesn't leak the entry (ADVICE r12)
        v.unpersist()
    return spark.createDataFrame(
        rows,
        "iteration long, eigenvalue double, delta double, "
        "leading_dim long, leading_loading double",
    )


def _pca_rounds(v, mu, w, n):
    """The unrolled power-iteration rounds over the cached projection
    (split from pca_power_iteration so the cache lifetime reads as one
    try/finally at the call site)."""
    import math

    rows = []
    for k in range(1, PCA_ITERS + 1):
        # centering is algebra, not per-element work: the centered dot is
        # s = sum_i e[i]*w[i] - c0 with c0 = mu . w a Python constant, and
        # the centered co-moment is g[d] = (sum_rows s*e[d] - mu[d]*sum_rows
        # s)/n — so the per-row expression is an UNROLLED 64-term dot
        # (whole-stage codegen) and the pass needs no zip_with/aggregate
        # lambdas (higher-order fns evaluate interpreted per element: the
        # original formulation was ~12M lambda evals per pass at sf1)
        c0 = sum(mu[i] * w[i] for i in range(PCA_DIM))
        lit_w = F.array(*[F.lit(x) for x in w])
        s = fdot(F.col("e"), lit_w, dim=PCA_DIM) - F.lit(c0)
        g_rows = (
            v.select(s.alias("s"), F.posexplode("e").alias("dim", "x"))
            .groupBy("dim")
            .agg(
                F.sum(F.col("s") * F.col("x")).alias("a"),
                F.sum("s").alias("ssum"),
            )
            .collect()
        )
        g = [0.0] * PCA_DIM
        for r in g_rows:
            d = int(r["dim"])
            g[d] = _snap9((float(r["a"]) - mu[d] * float(r["ssum"])) / n)
        lam = _snap6(sum(w[i] * g[i] for i in range(PCA_DIM)))
        nrm = math.sqrt(sum(x * x for x in g))
        if nrm == 0.0:
            # degenerate spectrum: a single-row (or constant) corpus has a
            # zero covariance operator — the iterate vanishes and there is
            # no direction to normalize; the trajectory simply ends (r14
            # tiny-corpus sweep)
            break
        w_new = [_snap9(x / nrm) for x in g]
        delta = _snap6(sum(abs(w_new[i] - w[i]) for i in range(PCA_DIM)))
        lead = min(range(PCA_DIM), key=lambda i: (-abs(w_new[i]), i))
        rows.append((k, lam, delta, lead, _snap6(w_new[lead])))
        w = w_new
    return rows


def _snap6(v: float) -> float:
    return py_floor_nudge(v, 6)


# ---- Multinomial naive Bayes (language classifier) -------------------------
NB_ALPHA = 1  # Laplace smoothing


@register(
    QUERIES,
    "naive_bayes_lang_confusion",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, lang,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), tf AS (  -- term frequencies per doc
      SELECT doc_id, lang, w, count(*) AS tf
      FROM (SELECT doc_id, lang, unnest(toks) AS w FROM d)
      GROUP BY 1, 2, 3
    ), cls AS (  -- class priors
      SELECT lang AS c, count(*) AS n_docs FROM d GROUP BY 1
    ), nn AS (SELECT count(*) AS n FROM d),
    vocab AS (SELECT DISTINCT w FROM tf),
    vv AS (SELECT count(*) AS v FROM vocab),
    cw AS (  -- per-class token counts over the full grid (zeros kept)
      SELECT cls.c, vocab.w, coalesce(sum(tf.tf), 0) AS cnt
      FROM cls CROSS JOIN vocab
      LEFT JOIN tf ON tf.lang = cls.c AND tf.w = vocab.w
      GROUP BY 1, 2
    ), ctot AS (
      SELECT c, sum(cnt) AS tot FROM cw GROUP BY 1
    ), model AS (
      SELECT cw.c, cw.w,
             ln((cnt + {NB_ALPHA}) * 1.0 / (ctot.tot + {NB_ALPHA} * vv.v))
               AS logp
      FROM cw JOIN ctot USING (c) CROSS JOIN vv
    ), scored AS (
      SELECT tf.doc_id, tf.lang, model.c,
             sum(tf.tf * model.logp) AS loglik
      FROM tf JOIN model ON model.w = tf.w
      GROUP BY 1, 2, 3
    ), ranked AS (
      SELECT doc_id, lang, c,
             row_number() OVER (
               PARTITION BY doc_id
               ORDER BY round(loglik + ln(cls.n_docs * 1.0 / nn.n), 6) DESC, c
             ) AS rn
      FROM scored JOIN cls USING (c) CROSS JOIN nn
    )
    SELECT lang AS actual, c AS predicted,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM ranked WHERE rn = 1
    GROUP BY 1, 2
    """,
    doc=f"Multinomial naive Bayes trained on (token, lang) counts with "
    f"Laplace alpha={NB_ALPHA}, resubstitution-scored to a confusion "
    "matrix. The model is the (|classes| x |vocab|) log-probability table "
    "— an aggregate-sized broadcast artifact, like the IVF centroids; "
    "training is ONE grouped count over exploded tokens, scoring is one "
    "broadcast join + per-doc argmax (rounded-6 before ranking, class "
    "tiebreak, so cross-engine log-sum noise can't flip it). The "
    "train-once/score-everywhere shape a 100 TB labeling pipeline uses "
    "for cheap priors.",
)
def naive_bayes_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("toks")
    )
    tf = (
        d.select("doc_id", "lang", F.explode("toks").alias("w"))
        .groupBy("doc_id", "lang", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
        # consumed by training counts AND the scoring join; one-shot query →
        # localCheckpoint (reference-released), not a session-pinned persist
        .transform(cut())
    )
    cls = d.groupBy(F.col("lang").alias("c")).agg(F.count(F.lit(1)).alias("n_docs"))
    n_total = d.count()
    vocab = tf.select("w").distinct()
    v_size = vocab.count()
    # full class x vocab grid (zeros kept — smoothing needs them); both
    # sides are aggregate-sized, the grid is |classes| x |vocab| rows
    cw = (
        cls.crossJoin(vocab)
        .join(
            tf.groupBy(F.col("lang").alias("c"), "w").agg(F.sum("tf").alias("cnt")),
            ["c", "w"],
            "left",
        )
        .select("c", "w", F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"))
    )
    ctot = cw.groupBy("c").agg(F.sum("cnt").alias("tot"))
    model = cw.join(F.broadcast(ctot), "c").select(
        "c",
        "w",
        F.log(
            (F.col("cnt") + NB_ALPHA)
            / (F.col("tot") + NB_ALPHA * v_size).cast("double")
        ).alias("logp"),
    )
    prior = cls.select(
        "c", F.log(F.col("n_docs") / F.lit(float(n_total))).alias("logprior")
    )
    scored = (
        tf.join(F.broadcast(model), "w")
        .groupBy("doc_id", "lang", "c")
        .agg(F.sum(F.col("tf") * F.col("logp")).alias("loglik"))
        .join(F.broadcast(prior), "c")
        .select(
            "doc_id",
            "lang",
            "c",
            F.round(F.col("loglik") + F.col("logprior"), 6).alias("score"),
        )
    )
    wk = Window.partitionBy("doc_id").orderBy(F.desc("score"), "c")
    return (
        scored.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 1)
        .groupBy(F.col("lang").alias("actual"), F.col("c").alias("predicted"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
