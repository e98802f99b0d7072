"""Corpus-quality operators: repetition filters, PII redaction, boilerplate
n-gram detection.

These are the document-hygiene passes a training-data pipeline runs before
dedup/sampling (Gopher/C4-style quality rules: Rae et al. 2021 §A1.1,
Raffel et al. 2020 §2.2 — public papers). Every metric here is deliberately
expressible in both Spark and ANSI SQL so each query is oracle-checked.

Scale posture (100 TB):
- Repetition metrics and PII redaction are pure map-side row expressions
  (whole-stage codegen, no shuffle, no Python): per-doc work is O(tokens²)
  worst-case for the distinct-n-gram count but bounded by document length,
  and embarrassingly parallel — the ideal 100 TB shape.
- Boilerplate detection is the one corpus-global pass: shingle document
  frequencies via one explode + groupBy (map-side partial counts), then the
  *tiny* high-df boilerplate list (bounded by the df threshold) broadcasts
  back onto the per-doc pass — no second big shuffle.

Reference scope note: the reference (Alvearie/hri-flink-validation-passthrough)
has no text surface; these extend the engine's north-star LLM-pipeline
coverage (VERDICT.md round 1, "LLM-data-pipeline operators").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans import QuerySpec, register
from ..session import load_table

QUERIES: dict[str, QuerySpec] = {}

# Gopher-style keep thresholds — one source of truth for both engines.
MAX_DUP_TOKEN_FRAC = 0.85
MAX_TOP_BIGRAM_FRAC = 0.20

# Boilerplate: a bigram is boilerplate when it appears in ≥ this many docs.
BOILER_MIN_DF = 40


def _toks():
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


@register(
    QUERIES,
    "quality_repetition_filters",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), m AS (
      SELECT doc_id,
             len(toks) AS n_tokens,
             len(list_distinct(toks)) AS n_distinct,
             list_max(list_transform(
               list_distinct(list_transform(range(1, len(toks)),
                                            i -> toks[i] || ' ' || toks[i+1])),
               b -> len(list_filter(list_transform(range(1, len(toks)),
                                                   i -> toks[i] || ' ' || toks[i+1]),
                                    x -> x = b)))) AS top_bg
      FROM t
    )
    SELECT doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round(1.0 - CAST(n_distinct AS DOUBLE) / n_tokens, 6)
             AS dup_token_frac,
           round(2.0 * top_bg / n_tokens, 6) AS top_bigram_frac,
           (1.0 - CAST(n_distinct AS DOUBLE) / n_tokens)
             <= {MAX_DUP_TOKEN_FRAC}
             AND (2.0 * top_bg / n_tokens) <= {MAX_TOP_BIGRAM_FRAC} AS keep
    FROM m
    WHERE n_tokens >= 2
    """,
    doc="Gopher-style repetition quality filters, fully map-side: duplicate-"
    "token fraction (1 - distinct/total) and top-bigram coverage (fraction "
    "of tokens inside the single most frequent 2-gram), with the keep "
    "decision at fixed thresholds. The per-doc distinct-bigram count is "
    "computed INSIDE the row (array lambdas, no explode/shuffle) — the "
    "embarrassingly-parallel shape a 100 TB quality pass needs.",
)
def quality_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _toks()
    # bigrams as one array expression; distinct-count per bigram via array
    # lambdas — O(distinct·n) per row but zero shuffle, which is the trade
    # you want when the alternative is exploding 100 TB of shingles.
    d = d.select("doc_id", toks.alias("toks")).filter(F.size("toks") >= 2)
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    d = d.select("doc_id", F.col("toks"), bigrams.alias("bg"))
    top_bg = F.expr(
        "array_max(transform(array_distinct(bg),"
        " b -> size(filter(bg, x -> x = b))))"
    )
    n_tokens = F.size("toks")
    n_distinct = F.size(F.array_distinct("toks"))
    dup_frac = 1.0 - n_distinct.cast("double") / n_tokens
    top_frac = 2.0 * top_bg / n_tokens
    return d.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.round(dup_frac, 6).alias("dup_token_frac"),
        F.round(top_frac, 6).alias("top_bigram_frac"),
        (
            (dup_frac <= F.lit(MAX_DUP_TOKEN_FRAC))
            & (top_frac <= F.lit(MAX_TOP_BIGRAM_FRAC))
        ).alias("keep"),
    )


# Deterministic synthetic PII (the corpus is synthetic and contains none):
# both engines append the same doc_id-derived email/phone/IP, then the
# redactor must find and mask every one. The patterns use the common
# Java-regex/RE2 subset so Spark and DuckDB agree byte-for-byte.
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
_PHONE_RE = "\\d{3}-\\d{4}"
_IP_RE = "\\d+\\.\\d+\\.\\d+\\.\\d+"


@register(
    QUERIES,
    "pii_redaction",
    oracle=f"""
    WITH wire AS (
      SELECT doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 555-' || CAST(1000 + doc_id % 9000 AS VARCHAR)
                  || ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1' AS t
      FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{_EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t, '{_PHONE_RE}')) AS BIGINT) AS n_phones,
           md5(regexp_replace(regexp_replace(regexp_replace(t,
                 '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PHONE_RE}', '<PHONE>', 'g'),
                 '{_IP_RE}', '<IP>', 'g')) AS clean_md5,
           NOT regexp_matches(regexp_replace(regexp_replace(regexp_replace(t,
                 '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_PHONE_RE}', '<PHONE>', 'g'),
                 '{_IP_RE}', '<IP>', 'g'), '{_EMAIL_RE}') AS is_clean
    FROM wire
    """,
    doc="PII redaction, fully map-side: deterministic synthetic emails/"
    "phones/IPs (derived from doc_id — the corpus is synthetic and has "
    "none) are injected identically in both engines, then masked with "
    "regexp_replace chains in the common Java-regex/RE2 subset. Output "
    "carries per-kind redaction counts, the md5 of the cleaned text "
    "(proving byte-identical redaction), and a residual-scan flag. At "
    "100 TB this is whole-stage-codegen row work: no shuffle, no Python.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    wire = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" at 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".1"),
    )
    d = d.select("doc_id", wire.alias("t"))
    clean = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    return d.select(
        "doc_id",
        F.regexp_count("t", F.lit(_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("t", F.lit(_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(clean).alias("clean_md5"),
        (~clean.rlike(_EMAIL_RE)).alias("is_clean"),
    )


_SQL_BIGRAMS = """
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+'))),
               i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i]
                    || ' ' ||
                    regexp_split_to_array(lower(trim(text)), '\\s+')[i+1])) AS bg
      FROM documents
"""


@register(
    QUERIES,
    "boilerplate_ngrams",
    oracle=f"""
    WITH bigrams AS ({_SQL_BIGRAMS})
    SELECT bg AS bigram, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
    FROM bigrams
    GROUP BY bg
    HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
    """,
    doc="Corpus boilerplate list: token bigrams appearing in ≥ BOILER_MIN_DF "
    "distinct documents (headers/footers/navigation chrome in a real crawl). "
    "One explode + distinct-count groupBy; the HAVING bound keeps the output "
    "tiny regardless of corpus size, which is what lets the per-doc pass "
    "below broadcast it.",
)
def boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", _toks().alias("toks")).filter(F.size("toks") >= 2)
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    return (
        d.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
    )


@register(
    QUERIES,
    "boilerplate_coverage",
    oracle=f"""
    WITH bigrams AS ({_SQL_BIGRAMS}),
    boiler AS (
      SELECT bg FROM bigrams GROUP BY bg
      HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DF}
    ),
    per_doc AS (
      SELECT b.doc_id,
             count(*) AS n_bigrams,
             sum(CASE WHEN boiler.bg IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
      FROM bigrams b LEFT JOIN boiler ON b.bg = boiler.bg
      GROUP BY b.doc_id
    )
    SELECT doc_id,
           CAST(n_bigrams AS BIGINT) AS n_bigrams,
           CAST(n_boiler AS BIGINT) AS n_boiler,
           round(CAST(n_boiler AS DOUBLE) / n_bigrams, 6) AS boiler_frac
    FROM per_doc
    """,
    doc="Per-document boilerplate coverage: the fraction of a doc's bigram "
    "positions that hit the corpus boilerplate list — the removal signal "
    "(drop or strip docs above a coverage bound). The boilerplate list is "
    "df-bounded and therefore tiny, so Spark broadcasts it onto the per-doc "
    "scan: the only big shuffle in the whole pass is the df aggregation.",
)
def boilerplate_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    d = d.select("doc_id", _toks().alias("toks")).filter(F.size("toks") >= 2)
    bigrams = F.expr(
        "transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
    )
    # `exploded` feeds both the df aggregation and the coverage join, so
    # the tokenize+explode runs twice — deliberate (r12 review): the
    # exploded bigram stream is LARGER than the corpus, so materializing
    # it (persist/localCheckpoint) to save one pass would write more
    # bytes than the second streaming scan reads.
    exploded = d.select("doc_id", F.explode(bigrams).alias("bg"))
    boiler = (
        exploded.groupBy("bg")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= BOILER_MIN_DF)
        .select("bg", F.lit(1).alias("is_boiler"))
    )
    return (
        exploded.join(F.broadcast(boiler), "bg", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).cast("long").alias("n_boiler"),
        )
        .select(
            "doc_id",
            "n_bigrams",
            "n_boiler",
            F.round(
                F.col("n_boiler").cast("double") / F.col("n_bigrams"), 6
            ).alias("boiler_frac"),
        )
    )


# --- Model inference at scale: a fasttext-style hashed linear quality
# classifier (Joulin et al. 2016's architecture: tokens -> hashing-trick
# buckets -> weight lookup -> mean logit -> sigmoid). The "trained model" is
# a CLF_DIM-entry weight vector shipped to every task as a literal array —
# exactly how a real per-doc quality filter runs at 100 TB: the model is
# tiny and broadcast, inference is pure map-side whole-stage codegen (no
# shuffle, no Python, no per-row UDF). Weights here are a deterministic
# pseudo-random function of the bucket id so both engines embed the
# identical table; swapping in learned weights changes nothing structural.
CLF_DIM = 256
CLF_SCALE = 10.0  # logit = CLF_SCALE * mean(weight)

# Knuth multiplicative hashing for the synthetic weights; exact decimals so
# Spark and DuckDB parse the same doubles.
CLF_WEIGHTS = [
    round(((b * 2654435761) % 1000003) / 1000003.0 - 0.5, 6)
    for b in range(CLF_DIM)
]

# portable token -> bucket: first 8 hex chars of md5, parsed positionally
# (both engines lack a shared hex->int builtin; instr over the hex alphabet
# is exact and identical in both)
_HEX = "0123456789abcdef"


def _clf_bucket_sql(tok: str) -> str:
    """DuckDB expression: md5-derived bucket id of a token expression."""
    terms = " + ".join(
        f"(instr('{_HEX}', substring(md5({tok}), {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"(({terms}) % {CLF_DIM})"


def _clf_bucket_col(tok):
    h = F.md5(tok)
    fid = None
    for i in range(8):
        # long arithmetic: the top hex digit contributes up to 15*16^7,
        # which overflows int32
        term = (F.instr(F.lit(_HEX), F.substring(h, i + 1, 1)) - 1).cast(
            "long"
        ) * F.lit(16 ** (7 - i)).cast("long")
        fid = term if fid is None else fid + term
    return fid % CLF_DIM


@register(
    QUERIES,
    "quality_classifier_inference",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), scored AS (
      -- the literal weight list rides along as a column so the lambda can
      -- index it (DuckDB forbids subqueries inside lambdas)
      SELECT doc_id, len(toks) AS n_tokens,
             list_sum(list_transform(toks,
               tok -> wts[{_clf_bucket_sql('tok')} + 1]
             )) AS wsum
      FROM t, (SELECT [{', '.join(str(w) for w in CLF_WEIGHTS)}] AS wts)
    )
    SELECT doc_id, n_tokens,
           round(1.0 / (1.0 + exp(-({CLF_SCALE} * wsum / n_tokens))), 6) AS score,
           (1.0 / (1.0 + exp(-({CLF_SCALE} * wsum / n_tokens)))) >= 0.5 AS keep
    FROM scored
    """,
    doc=f"Hashed linear quality-classifier inference (fasttext shape): "
    f"md5 hashing trick into {CLF_DIM} buckets, literal broadcast weight "
    "table, mean-logit sigmoid score and keep decision — model inference "
    "as pure map-side codegen, the zero-shuffle way a learned per-doc "
    "filter runs over 100 TB.",
)
def quality_classifier_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    weights = F.array(*[F.lit(w) for w in CLF_WEIGHTS])
    wsum = F.aggregate(
        F.transform(
            _toks(),
            lambda t: F.element_at(weights, (_clf_bucket_col(t) + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    logit = F.lit(CLF_SCALE) * F.col("wsum") / F.col("n_tokens")
    score = 1.0 / (1.0 + F.exp(-logit))
    return (
        d.select(
            "doc_id",
            F.size(_toks()).cast("long").alias("n_tokens"),
            wsum.alias("wsum"),
        )
        .select(
            "doc_id",
            "n_tokens",
            F.round(score, 6).alias("score"),
            (score >= 0.5).alias("keep"),
        )
    )
