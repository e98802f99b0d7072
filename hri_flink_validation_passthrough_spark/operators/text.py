"""Text-analysis operators for training-data pipelines (north star surface):
language-ID heuristic, quality scoring, token counting, fingerprinting.

All formulas are deliberately expressible in both Spark and ANSI SQL so every
query here is oracle-checked. Everything stays JVM-side (split/filter/
aggregate builtins — whole-stage codegen, no Python in the hot path).
Shared constants are interpolated into BOTH the Spark plan and the oracle SQL
from one Python definition, so the two can't drift.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import fingerprint_md5
from ..plans import QuerySpec, register
from ..session import load_table
from ..materialize import cut, materialize

QUERIES: dict[str, QuerySpec] = {}

# one source of truth for both engines
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "on", "for", "with")
_SQL_STOPS = ", ".join(f"'{w}'" for w in STOPWORDS)

# language marker words → language, fixed precedence for deterministic argmax
LANG_MARKERS = {
    "en": ("the", "a", "and", "is", "of"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "que", "es"),
    "fr": ("le", "la", "les", "et", "est"),
}


def _tokens_col():
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


@register(
    QUERIES,
    "text_stats",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
             length(text) AS n_char,
             length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS n_punct
      FROM documents
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS}))) AS BIGINT)
             AS n_stop,
           round(CAST(n_punct AS DOUBLE) / n_char, 6)  AS punct_ratio,
           round(CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS}))) AS DOUBLE)
                 / len(toks), 6) AS stop_ratio
    FROM t
    """,
    doc="Per-document token/punctuation/stopword metrics (quality signals).",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()
    stops_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks).cast("long")
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(stops_arr, x))).cast(
        "long"
    )
    n_char = F.length("text")
    n_punct = n_char - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    return d.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_stop.alias("n_stop"),
        F.round(n_punct.cast("double") / n_char, 6).alias("punct_ratio"),
        F.round(n_stop.cast("double") / n_tokens, 6).alias("stop_ratio"),
    )


@register(
    QUERIES,
    "text_quality_score",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks,
             length(text) AS n_char,
             length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS n_punct
      FROM documents
    ), m AS (
      SELECT doc_id, source,
             len(toks) AS n_tokens,
             CAST(len(list_filter(toks, x -> x IN ({_SQL_STOPS}))) AS DOUBLE)
               / len(toks) AS stop_ratio,
             CAST(n_punct AS DOUBLE) / n_char AS punct_ratio
      FROM t
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(0.4 * stop_ratio
                     + 0.4 * least(n_tokens / 100.0, 1.0)
                     - 0.2 * punct_ratio), 6) AS avg_quality
    FROM m
    GROUP BY source
    """,
    doc="Heuristic quality score (stopword density + length, penalize punct), "
    "aggregated per source — the filter signal a 100 TB corpus pipeline ranks on.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        quality_score_per_doc(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("q"), 6).alias("avg_quality"),
        )
    )


def quality_score_per_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, q): the exact per-doc quality expression the
    registered aggregate reports — single-sourced so pipeline stages
    filtering on quality (tests/test_corpus_pipeline_e2e.py) rank by the
    SAME unrounded number, never a re-implementation that drifts."""
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()
    stops_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_tokens = F.size(toks)
    stop_ratio = F.size(
        F.filter(toks, lambda x: F.array_contains(stops_arr, x))
    ).cast("double") / n_tokens
    n_char = F.length("text")
    punct_ratio = (
        n_char - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    ).cast("double") / n_char
    quality = (
        0.4 * stop_ratio
        + 0.4 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        - 0.2 * punct_ratio
    )
    return d.select("doc_id", "source", quality.alias("q"))


def _lang_case_sql() -> str:
    hits = {
        lang: f"len(list_filter(toks, x -> x IN ({', '.join(repr(w) for w in ws)})))"
        for lang, ws in LANG_MARKERS.items()
    }
    # fixed precedence en > de > es > fr, then 'und' when all zero
    return f"""
      CASE
        WHEN {hits['en']} = 0 AND {hits['de']} = 0 AND {hits['es']} = 0
             AND {hits['fr']} = 0 THEN 'und'
        WHEN {hits['en']} >= {hits['de']} AND {hits['en']} >= {hits['es']}
             AND {hits['en']} >= {hits['fr']} THEN 'en'
        WHEN {hits['de']} >= {hits['es']} AND {hits['de']} >= {hits['fr']}
             THEN 'de'
        WHEN {hits['es']} >= {hits['fr']} THEN 'es'
        ELSE 'fr'
      END
    """


@register(
    QUERIES,
    "lang_id_heuristic",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id, {_lang_case_sql()} AS pred_lang
    FROM t
    """,
    doc="Stopword-marker language ID (n-gram-free heuristic); deterministic "
    "argmax with fixed precedence.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()

    def hits(ws):
        arr = F.array(*[F.lit(w) for w in ws])
        return F.size(F.filter(toks, lambda x: F.array_contains(arr, x)))

    en, de, es, fr = (hits(LANG_MARKERS[lang]) for lang in ("en", "de", "es", "fr"))
    pred = (
        F.when((en == 0) & (de == 0) & (es == 0) & (fr == 0), "und")
        .when((en >= de) & (en >= es) & (en >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )
    return d.select("doc_id", pred.alias("pred_lang"))


@register(
    QUERIES,
    "token_count_by_source",
    oracle="""
    SELECT source,
           CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                AS BIGINT) AS total_tokens,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY source
    """,
    doc="Corpus token accounting per source (the 'how many tokens do we have' "
    "question every training pipeline asks).",
)
def token_count_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source").agg(
        F.sum(F.size(_tokens_col())).cast("long").alias("total_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


@register(
    QUERIES,
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(
                 regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'),
                 ' +', ' ', 'g'))) AS fingerprint
    FROM documents
    """,
    doc="Deterministic content fingerprint: md5 of normalized text "
    "(lowercase, alnum-only, squeezed whitespace).",
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", fingerprint_md5("text").alias("fingerprint"))


@register(
    QUERIES,
    "rolling_hash_fingerprint",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(list_aggregate(
                  list_transform(toks, x -> CAST(length(x) AS BIGINT)
                                            + CAST(ascii(x) AS BIGINT) * 31),
                  'sum')
                % 1000000007 AS BIGINT) AS rhash
    FROM t
    """,
    doc="Order-free rolling-style content hash from token statistics — a "
    "cheap pre-filter fingerprint computable identically in any engine.",
)
def rolling_hash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = _tokens_col()
    per_tok = F.transform(
        toks, lambda x: F.length(x).cast("long") + F.ascii(x).cast("long") * 31
    )
    total = F.aggregate(per_tok, F.lit(0).cast("long"), lambda acc, v: acc + v)
    return d.select("doc_id", (total % 1000000007).cast("long").alias("rhash"))


@register(
    QUERIES,
    "lm_trigram_score",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lower(trim(text)) AS t FROM documents
      WHERE strlen(lower(trim(text))) >= 3
    ), tri AS (
      SELECT doc_id,
             unnest(list_transform(range(1, strlen(t) - 1),
                                   i -> substr(t, CAST(i AS INTEGER), 3))) AS g
      FROM docs
    ), tfg AS (  -- per-doc trigram multiset, aggregated ONCE
      SELECT doc_id, g, count(*) AS k FROM tri GROUP BY doc_id, g
    ), model AS (  -- corpus trigram relative frequencies
      SELECT g, sum(k) AS c FROM tfg GROUP BY g
    ), total AS (SELECT sum(c) AS n FROM model)
    SELECT doc_id,
           CAST(sum(k) AS BIGINT) AS n_trigrams,
           round(sum(k * -log2(CAST(c AS DOUBLE) / n)) / sum(k), 4)
             AS bits_per_trigram
    FROM tfg JOIN model USING (g) CROSS JOIN total
    GROUP BY doc_id
    """,
    doc="Language-model quality scoring (KenLM-filter shape): corpus char-"
    "trigram relative frequencies are the model; each doc scores the mean "
    "-log2 probability of its trigrams (low bits = typical text, high bits "
    "= junk/outlier). Two aggregations + one join, all JVM-side; at 100 TB "
    "the model is a capped top-V trigram table trained once and "
    "broadcast-joined, exactly this plan with the count table materialized.",
)
def lm_trigram_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    t = F.lower(F.trim(F.col("text")))
    docs = d.select("doc_id", t.alias("t")).filter(F.length("t") >= 3)
    # python F.substring takes int positions only — the position-dependent
    # slice needs the SQL lambda form
    tri = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(t) - 2), i -> substr(t, i, 3))")
        ).alias("g"),
    )
    # ONE explode pass: the per-doc trigram multiset is aggregated to
    # (doc, gram, k) first, the model and the scoring both read THAT —
    # previously model-build and scoring each re-ran the 3-chars-per-char
    # explode over the corpus (18 s at sf1, found by the r5 scan sweep).
    # The per-doc mean is the k-weighted sum over distinct grams — same
    # value, and the oracle computes the identical weighted form.
    # localCheckpoint, not persist: a per-call persist with no unpersist
    # pins a per-doc-trigram-sized cache entry for the whole session;
    # checkpointed blocks are reference-released by the ContextCleaner
    # (the repo-wide convention — see market_basket_lift for the
    # cluster fault-tolerance trade-off note)
    tfg = tri.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("k")).transform(cut())
    model = tfg.groupBy("g").agg(F.sum("k").alias("c"))
    total = model.agg(F.sum("c").alias("n"))
    scored = (
        tfg.join(F.broadcast(model), "g")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("k").cast("long").alias("n_trigrams"),
            F.round(
                F.sum(
                    F.col("k") * -F.log2(F.col("c").cast("double") / F.col("n"))
                )
                / F.sum("k"),
                4,
            ).alias("bits_per_trigram"),
        )
    )
    return scored


# BPE-ish pre-tokenizer pattern (GPT-2-style word/digit/punct split, minus
# the lookaheads neither engine's default regex needs): letters run together,
# digits split singly, punctuation runs together. Common Java-regex/RE2
# subset — one constant for both engines.
BPE_PATTERN = "[a-z]+|[0-9]|[^a-z0-9\\s]+"


@register(
    QUERIES,
    "token_count_bpe_regex",
    oracle=f"""
    SELECT source,
           CAST(sum(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')))
                AS BIGINT) AS bpe_tokens,
           CAST(sum(len(regexp_split_to_array(lower(trim(text)), '\\s+')))
                AS BIGINT) AS ws_tokens,
           round(CAST(sum(len(regexp_extract_all(lower(text), '{BPE_PATTERN}')))
                      AS DOUBLE)
                 / sum(len(regexp_split_to_array(lower(trim(text)), '\\s+'))), 6)
             AS bpe_per_ws
    FROM documents
    GROUP BY source
    """,
    doc="BPE-ish token accounting: a GPT-2-style pre-tokenizer regex "
    "(letter runs | single digits | punct runs) counted next to whitespace "
    "tokens, per source — the 'how many *model* tokens is this corpus' "
    "estimate next to the word count, and the ratio between them. "
    "regexp_extract_all is JVM-side (codegen); one partial-agg groupBy.",
)
def token_count_bpe_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    bpe = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit(BPE_PATTERN), F.lit(0)))
    ws = F.size(_tokens_col())
    return d.groupBy("source").agg(
        F.sum(bpe).cast("long").alias("bpe_tokens"),
        F.sum(ws).cast("long").alias("ws_tokens"),
        F.round(
            F.sum(bpe).cast("double") / F.sum(ws), 6
        ).alias("bpe_per_ws"),
    )


# Count-min sketch: the frequency counterpart of the HLL cardinality sketch
# (sketch_cardinalities). Built from PORTABLE md5-prefix hashes, so unlike
# HLL the sketch cells — and therefore the estimates — hash-match across
# engines and the query is fully oracle-checked.
CMS_D = 4  # hash rows
CMS_W = 32  # buckets per row (deliberately small vs the synthetic vocab so
#             collisions actually occur and the min-over-rows bound shows)
CMS_TOP = 15


def _cms_bucket(i_col, tok_col):
    """Row-``i`` CMS bucket of a token: 60-bit md5 prefix of 'i:tok' mod W
    (the repo's portable cross-engine hash construction)."""
    h = F.md5(F.concat(i_col.cast("string"), F.lit(":"), tok_col))
    return (F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % CMS_W).alias("b")


@register(
    QUERIES,
    "cms_heavy_hitters",
    oracle=f"""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents
    ), exact AS (
      SELECT tok, CAST(count(*) AS BIGINT) AS exact_n FROM toks GROUP BY tok
    ), rows_ AS (SELECT unnest(range(0, {CMS_D})) AS i
    ), cells AS (
      -- sketch built FROM the exact-count aggregate (same cells as counting
      -- the raw stream: addition is associative), one base scan total
      SELECT i,
             ('0x' || substr(md5(i::VARCHAR || ':' || tok), 1, 15))::BIGINT
               % {CMS_W} AS b,
             sum(exact_n) AS c
      FROM exact CROSS JOIN rows_ GROUP BY 1, 2
    ), top AS (
      SELECT tok, exact_n FROM exact ORDER BY exact_n DESC, tok LIMIT {CMS_TOP}
    ), est AS (
      SELECT t.tok, t.exact_n, CAST(min(c.c) AS BIGINT) AS cms_n
      FROM top t CROSS JOIN rows_ r
      JOIN cells c
        ON c.i = r.i
       AND c.b = ('0x' || substr(md5(r.i::VARCHAR || ':' || t.tok), 1, 15))
                    ::BIGINT % {CMS_W}
      GROUP BY 1, 2
    )
    SELECT tok, exact_n, cms_n, cms_n - exact_n AS overcount
    FROM est
    """,
    doc=f"Count-min sketch heavy hitters: {CMS_D}x{CMS_W} CMS over the "
    "document token stream, estimates (min over rows of the token's cells) "
    "reported against exact counts for the top-15 tokens — overcount >= 0 "
    "by construction, and nonzero here because W is deliberately smaller "
    "than the vocabulary. Cells are derived FROM the vocab-sized exact-"
    "count aggregate (count addition is associative), so the whole query "
    "is ONE base-table scan + vocab-sized work; at 100 TB the sketch is "
    f"{CMS_D}x{CMS_W} integers — mergeable across partitions/days by "
    "cell-wise addition, the standard streaming-frequency structure. "
    "Portable md5-prefix hashing makes the cells engine-identical, so "
    "this sketch IS hash-checked (unlike the HLL family, rows-only by "
    "nature).",
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    exact = (
        d.select(F.explode(_tokens_col()).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
        # vocab-cardinality; consumed by cells AND the top-k cut —
        # localCheckpoint (reference-released), never a per-call persist
        .transform(cut())
    )
    rows_ = F.array([F.lit(i) for i in range(CMS_D)])
    cells = (
        exact.select("tok", "exact_n", F.explode(rows_).alias("i"))
        .select("i", _cms_bucket(F.col("i"), F.col("tok")), "exact_n")
        .groupBy("i", "b")
        .agg(F.sum("exact_n").alias("c"))
    )
    top = exact.orderBy(F.desc("exact_n"), "tok").limit(CMS_TOP)
    probes = top.select(
        "tok", "exact_n", F.explode(rows_).alias("i")
    ).select("tok", "exact_n", "i", _cms_bucket(F.col("i"), F.col("tok")))
    est = (
        probes.join(F.broadcast(cells), ["i", "b"])
        .groupBy("tok", "exact_n")
        .agg(F.min("c").cast("long").alias("cms_n"))
    )
    return est.select(
        "tok",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


# Positional inverted index: the IR-native phrase-query plan. The index is
# only ever materialized for the QUERY TERMS (filter before the explode's
# shuffle), so index cost is O(occurrences of the queried words), not
# O(corpus) — the pushdown an inverted-index store gives you for free, here
# expressed relationally.
PHRASE = ("table", "hash")  # present at every SF in the synthetic corpus


@register(
    QUERIES,
    "inverted_index_phrase_query",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_filter(range(1, len(toks)),
                i -> toks[i] = '{PHRASE[0]}' AND toks[i+1] = '{PHRASE[1]}'))
                AS BIGINT) AS n_occ
    FROM t
    WHERE len(list_filter(range(1, len(toks)),
          i -> toks[i] = '{PHRASE[0]}' AND toks[i+1] = '{PHRASE[1]}')) > 0
    """,
    doc=f"Exact phrase search '{PHRASE[0]} {PHRASE[1]}' via a POSITIONAL "
    "inverted index: posexplode tokens to (doc, pos, term) postings "
    "FILTERED to the two query terms before any shuffle (so the index "
    "built is query-term-sized, not corpus-sized), then a self-join on "
    "(doc_id, pos+1 = pos) — the classic posting-list intersection with "
    "position adjacency, as an equi-join. The oracle counts in-row "
    "bigram matches instead (different algorithm, same answer — a real "
    "cross-check, not an echo). At 100 TB the postings join is "
    "co-partitioned on doc_id and each side is term-frequency-sized; "
    "longer phrases chain one join per extra term.",
)
def inverted_index_phrase_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    postings = (
        d.select("doc_id", F.posexplode(_tokens_col()).alias("pos", "term"))
        .filter(F.col("term").isin(*PHRASE))
        # both posting lists cut from one explode pass — localCheckpoint
        # (reference-released), never a per-call persist
        .transform(cut())
    )
    # adjacency as an equi-join KEY (pos+1 on the left, pos on the right),
    # not a post-join filter: a document with tf1/tf2 occurrences of the
    # terms then costs tf1+tf2 hash probes, never tf1 x tf2 pairs
    p1 = postings.filter(F.col("term") == PHRASE[0]).select(
        "doc_id", (F.col("pos") + 1).alias("pos")
    )
    p2 = postings.filter(F.col("term") == PHRASE[1]).select("doc_id", "pos")
    return (
        p1.join(p2, ["doc_id", "pos"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occ"))
    )


# ---- Character entropy (repetitiveness / spam signal) ----------------------
# In-row closed form: per-letter counts via length-difference (26 terms, all
# whole-stage codegen, ZERO shuffle before the final top-k) — the
# once-per-row-aggregate shape the PCA rework showed wins over explodes and
# higher-order lambdas. At 100 TB this is a pure map + TakeOrdered.
ENTROPY_TOP = 25
_LETTERS = "abcdefghijklmnopqrstuvwxyz"


def _entropy_oracle() -> str:
    cnts = ", ".join(
        f"length(txt) - length(replace(txt, '{c}', '')) AS c_{c}"
        for c in _LETTERS
    )
    total = " + ".join(f"c_{c}" for c in _LETTERS)
    terms = " + ".join(
        f"(CASE WHEN c_{c} > 0 THEN -(CAST(c_{c} AS DOUBLE)/n_letters)"
        f" * ln(CAST(c_{c} AS DOUBLE)/n_letters) ELSE 0.0 END)"
        for c in _LETTERS
    )
    return f"""
    WITH t AS (
      SELECT doc_id, regexp_replace(lower(text), '[^a-z]', '', 'g') AS txt
      FROM documents
    ), c AS (
      SELECT doc_id, {cnts} FROM t
    ), n AS (
      SELECT doc_id, {total} AS n_letters, * FROM c
    ), h AS (
      SELECT doc_id, CAST(n_letters AS BIGINT) AS n_letters,
             round({terms}, 6) AS entropy
      FROM n WHERE n_letters > 0
    )
    SELECT doc_id, n_letters, entropy FROM h
    ORDER BY entropy, doc_id LIMIT {ENTROPY_TOP}
    """


def _letter_counts(txt: pd.Series) -> pd.Series:
    """Per-doc lowercase-letter histogram: one vectorized pass per string
    (Arrow-batched; module-level so type hints resolve and workers import
    it by reference)."""
    out = []
    zeros = np.zeros(26, dtype=np.int64)
    for s in txt:
        if s is None:
            # NULL text → zero histogram → n_letters=0 → filtered by the
            # n_letters > 0 gate, matching the oracle's NULL-propagation
            # (regexp_replace(NULL)=NULL, SUM of NULLs=NULL, filtered).
            out.append(zeros)
            continue
        b = np.frombuffer(s.encode(), dtype=np.uint8)
        b = b[(b >= 97) & (b <= 122)]  # lowercase ASCII letters
        out.append(np.bincount(b - 97, minlength=26).astype(np.int64))
    return pd.Series(out)


@register(
    QUERIES,
    "char_entropy_quality",
    oracle=_entropy_oracle(),
    doc=f"Shannon character entropy per document (lowest {ENTROPY_TOP} = "
    "most repetitive / template-like docs, a standard corpus-quality "
    "prune signal). Letter counts come from ONE Arrow-batched numpy "
    "bincount pass per document — the r6 A/B measured the all-JVM "
    "26-length-difference form 9x SLOWER at sf1 (28.6 s vs 3.1 s; 52 "
    "full-string scans per row lose to one vectorized pass even paying "
    "the Arrow transfer), with bit-identical output since entropy is "
    "computed from the same integer counts by the same expression tree. "
    "No shuffle before the TakeOrdered top-k. Entropy rounded to 6 "
    "before ordering (cross-engine ln drift ~1 ulp) with doc_id tiebreak.",
)
def char_entropy_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts_udf = F.pandas_udf(_letter_counts, "array<long>")
    t = d.select("doc_id", counts_udf(F.lower("text")).alias("c"))
    t = t.select(
        "doc_id", *[F.col("c")[i].alias(f"c_{c}") for i, c in enumerate(_LETTERS)]
    ).withColumn("n_letters", sum(F.col(f"c_{c}") for c in _LETTERS))

    def p(c: str):
        return F.col(f"c_{c}").cast("double") / F.col("n_letters")

    h = None
    for c in _LETTERS:
        term = F.when(F.col(f"c_{c}") > 0, -p(c) * F.log(p(c))).otherwise(F.lit(0.0))
        h = term if h is None else h + term
    return (
        t.filter(F.col("n_letters") > 0)
        .select(
            "doc_id",
            F.col("n_letters").cast("long").alias("n_letters"),
            F.round(h, 6).alias("entropy"),
        )
        .orderBy("entropy", "doc_id")
        .limit(ENTROPY_TOP)
    )


# ---- Zipf rank-frequency fit (corpus health diagnostic) --------------------
ZIPF_TOP = 1000


@register(
    QUERIES,
    "zipf_token_slope",
    oracle=f"""
    WITH c AS (
      SELECT w, count(*) AS n FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
        FROM documents
      ) GROUP BY w
    ), top AS (
      SELECT w, n FROM c ORDER BY n DESC, w LIMIT {ZIPF_TOP}
    ), ranked AS (
      SELECT ln(CAST(row_number() OVER (ORDER BY n DESC, w) AS DOUBLE)) AS x,
             ln(CAST(n AS DOUBLE)) AS y
      FROM top
    ), s AS (
      SELECT count(*) AS m, sum(x) AS sx, sum(y) AS sy,
             sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
      FROM ranked
    )
    SELECT CAST(m AS BIGINT) AS n_terms,
           round((m*sxy - sx*sy) / (m*sxx - sx*sx), 6) AS slope,
           round((sy - (m*sxy - sx*sy) / (m*sxx - sx*sx) * sx) / m, 6)
             AS intercept,
           round((m*sxy - sx*sy) * (m*sxy - sx*sy)
                 / ((m*sxx - sx*sx) * (m*syy - sy*sy)), 6) AS r2
    FROM s
    """,
    doc=f"Zipf's-law fit over the token rank-frequency curve: OLS slope of "
    f"ln(freq) on ln(rank) over the top-{ZIPF_TOP} tokens (healthy natural "
    "corpora slope ~ -1; synthetic/boilerplate-heavy corpora flatten). "
    "Token counts are one groupBy; the global sort is a TakeOrdered "
    f"partial top-k; the rank window runs over <= {ZIPF_TOP} rows by "
    "construction (data-size-independent, allowlisted); the fit is one "
    "aggregate over those rows.",
)
def zipf_token_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select(F.explode(_tokens_col()).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.desc("n"), "w").limit(ZIPF_TOP)
    from pyspark.sql import Window

    rk = F.row_number().over(Window.orderBy(F.desc("n"), "w"))
    ranked = top.select(
        F.log(rk.cast("double")).alias("x"), F.log(F.col("n").cast("double")).alias("y")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    m = F.col("m").cast("double")
    slope = (m * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        m * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    intercept = (F.col("sy") - slope * F.col("sx")) / m
    r2 = (
        (m * F.col("sxy") - F.col("sx") * F.col("sy"))
        * (m * F.col("sxy") - F.col("sx") * F.col("sy"))
        / (
            (m * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (m * F.col("syy") - F.col("sy") * F.col("sy"))
        )
    )
    return s.select(
        F.col("m").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(r2, 6).alias("r2"),
    )


# --- Mergeable fixed-grid quantile sketch (r6 verdict ask #8): the
# hash-checkable, streaming-compatible quantile the sketch family lacked.
# Grid width in integer cents; the sketch state is (group, bin) -> count,
# mergeable across partitions/files/microbatches by plain addition — the
# same mergeability contract as the CMS cells above, and the property
# approx_percentile's internal KLL cannot offer cross-engine (its estimate
# depends on ingestion order; this grid's does not).
QSK_BIN_CENTS = 500  # $5 bins over events.value in [0.01, ~490] -> ~98 bins
QSK_QS = (50, 90, 99)  # integer percents so ranks stay in integer algebra

# Shared with the streaming twin (stream_quantile_sketch): the sketch is
# order-insensitive by construction, so one oracle serves both.
QSK_ORACLE = f"""
    WITH cents AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
      FROM events
    ), bins AS (  -- the sketch: one count per (type, bin); merge = addition
      SELECT event_type, c // {QSK_BIN_CENTS} AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM cents GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, bin, cnt,
             CAST(sum(cnt) OVER (
               PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum
      FROM bins
    ), tot AS (
      SELECT event_type, CAST(sum(cnt) AS BIGINT) AS n FROM bins GROUP BY 1
    ), tgt AS (
      SELECT event_type, n, q, (q * n + 99) // 100 AS target
      FROM tot CROSS JOIN (SELECT unnest([{", ".join(map(str, QSK_QS))}]) AS q)
    )
    SELECT t.event_type, t.q, t.n,
           (b.bin * {QSK_BIN_CENTS * 1000}
            + ((t.target - (b.cum - b.cnt)) * {QSK_BIN_CENTS * 1000}) // b.cnt
           ) / 100000.0 AS est_value
    FROM tgt t
    JOIN cum b
      ON b.event_type = t.event_type
     AND b.cum >= t.target
     AND b.cum - b.cnt < t.target
    """


@register(
    QUERIES,
    "quantile_sketch_value_by_type",
    oracle=QSK_ORACLE,
    doc=f"Mergeable fixed-grid quantile sketch: events.value binned into "
    f"{QSK_BIN_CENTS}-cent buckets, sketch state = (event_type, bin, count) "
    "— mergeable by cell-wise ADDITION across partitions, files, days, or "
    "streaming microbatches (asserted by the split-merge parity test), "
    "unlike rank-based exact quantiles which need a global view. Quantile "
    "readout: integer ceil-rank target (q*n+99) div 100, cumulative counts "
    "over the BIN table (grid-bounded window, ~98 rows per type — never "
    "row-bounded), then linear interpolation inside the landing bin done "
    "entirely in INTEGER milli-cents (one div) so both engines carry "
    "bit-identical integers to the single final float division — fully "
    "hash-checked, the property the HLL family can't give. Error bound is "
    "ONE bin width deterministically, not probabilistic (hypothesis-pinned "
    "in tests/test_round7_ops.py — interpolation's worst case is a "
    "single-count landing bin, estimate at the top edge, true value at "
    "the bottom). At 100 TB the "
    "sketch is |types| x ~98 longs; build is one map-side-combined "
    "aggregation over the scan.",
)
def quantile_sketch_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    bins = quantile_sketch_build(e)
    return quantile_sketch_quantiles(bins)


def quantile_sketch_build(events: DataFrame) -> DataFrame:
    """The sketch: (event_type, bin) -> cnt. Merge two sketches with
    unionByName + groupBy(event_type, bin).sum(cnt)."""
    return (
        events.select(
            "event_type",
            F.expr(
                f"CAST(floor(value * 100 + 0.5) AS BIGINT) div {QSK_BIN_CENTS}"
            ).alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )


def quantile_sketch_quantiles(
    bins: DataFrame, keys: tuple[str, ...] = ("event_type",)
) -> DataFrame:
    """Quantile readout from a (*keys, bin, cnt) sketch — grid-bounded work
    only. *keys* generalizes the group (r8: the windowed streaming twin
    reads out per (day, event_type) from the same algebra)."""
    from functools import reduce

    from pyspark.sql import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = bins.withColumn("cum", F.sum("cnt").over(w).cast("long"))
    tot = bins.groupBy(*keys).agg(F.sum("cnt").cast("long").alias("n"))
    tgt = tot.select(
        *keys,
        "n",
        F.explode(F.array(*[F.lit(q) for q in QSK_QS])).alias("q"),
    ).withColumn("target", F.expr("(q * n + 99) div 100"))
    scale = QSK_BIN_CENTS * 1000
    # rename the cum side instead of DataFrame aliases: tgt and cum share
    # the same base plan, and Spark's self-join attribute dedup can drop an
    # aliased common column when the base is a catalog table (seen with the
    # streaming twin's memory-sink input)
    b = cum.select(
        *[F.col(k).alias(f"b_{k}") for k in keys],
        F.col("bin").alias("b_bin"),
        F.col("cnt").alias("b_cnt"),
        F.col("cum").alias("b_cum"),
    )
    key_eq = reduce(
        lambda a, c: a & c,
        [F.col(f"b_{k}") == F.col(k) for k in keys],
    )
    joined = tgt.join(
        F.broadcast(b),
        key_eq
        & (F.col("b_cum") >= F.col("target"))
        & (F.col("b_cum") - F.col("b_cnt") < F.col("target")),
    )
    return joined.select(
        *keys,
        "q",
        "n",
        (
            (
                F.col("b_bin") * F.lit(scale)
                + F.expr(
                    f"(target - (b_cum - b_cnt)) * {scale} div b_cnt"
                )
            )
            / F.lit(100000.0)
        ).alias("est_value"),
    )


# --- Portable HyperLogLog twin (hash-checked): the cross-engine-checkable
# counterpart of sketch_cardinalities' production approx_count_distinct,
# mirroring how minhash_calibration_by_jaccard twins dedup_minhash_lsh and
# cms_heavy_hitters twins the frequency path. Registers come from the
# repo's portable md5-prefix hash, and the harmonic mean is carried as an
# exact INTEGER rational (sum of 2^(51-reg) over a common 2^51 denominator)
# so both engines reach the final float division with identical integers.
HLL_M = 1024  # registers; standard error 1.04/sqrt(m) ~ 3.25%
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)
# alpha * m^2 * 2^51, precomputed to one double literal shared verbatim by
# both engines (composing it from parts could associate differently)
_HLL_A = repr(_HLL_ALPHA * HLL_M * HLL_M * 2.0**51)

# Shared with the streaming twin (stream_hll_cardinality): register-wise MAX
# is order-insensitive, so one oracle serves both (the same one-oracle
# pattern as QSK_ORACLE / stream_quantile_sketch).
HLL_ORACLE = f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events
    ), rho AS (  -- register = max leading-zero rank in the 50-bit suffix
      SELECT event_type, hv % {HLL_M} AS bucket,
             max(CASE WHEN hv // {HLL_M} = 0 THEN 51
                      ELSE 51 - length(bin(hv // {HLL_M})) END) AS reg
      FROM h GROUP BY 1, 2
    ), grid AS (
      SELECT event_type, unnest(range({HLL_M})) AS bucket
      FROM (SELECT DISTINCT event_type FROM events)
    ), regs AS (
      SELECT g.event_type, g.bucket, coalesce(r.reg, 0) AS reg
      FROM grid g LEFT JOIN rho r
        ON r.event_type = g.event_type AND r.bucket = g.bucket
    ), agg AS (
      SELECT event_type,
             CAST(sum(1::BIGINT << (51 - reg)) AS BIGINT) AS s_harm,
             CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_zero
      FROM regs GROUP BY 1
    ), ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1
    ), est AS (
      SELECT a.event_type, e.n_exact, a.v_zero, a.s_harm,
             CASE WHEN {_HLL_A} / a.s_harm <= 2.5 * {HLL_M}
                       AND a.v_zero > 0
                  THEN {HLL_M} * ln({HLL_M} * 1.0 / a.v_zero)
                  ELSE {_HLL_A} / a.s_harm END AS raw
      FROM agg a JOIN ex e ON e.event_type = a.event_type
    )
    SELECT event_type, n_exact, v_zero, s_harm,
           round(raw, 4) AS hll_estimate,
           round((raw - n_exact) / n_exact, 6) AS rel_error
    FROM est
    """


@register(
    QUERIES,
    "hll_cardinality_portable",
    oracle=HLL_ORACLE,
    doc=f"Portable HyperLogLog (m={HLL_M}) of distinct users per event "
    "type, reported against the exact distinct count — the hash-checked "
    "twin of sketch_cardinalities' production approx_count_distinct (the "
    "same twin pattern as cms_heavy_hitters for frequency and "
    "minhash_calibration for similarity). Cross-engine determinism: "
    "registers derive from the portable 60-bit md5-prefix hash (bucket = "
    "mod m, rank = 51 - bitlength of the 50-bit suffix via bin()), and "
    "the harmonic sum is the exact INTEGER sum(2^(51-reg)) over a common "
    "2^51 denominator — no float accumulation anywhere, one shared "
    "precomputed double literal and one division (plus the standard "
    "linear-counting branch for the small regime, active at these SFs) at "
    "the very end. The register table is m longs per group, mergeable by "
    "cell-wise MAX — the partition/day/stream merge HLL is built for; at "
    "100 TB the build is one map-side-combined aggregation.",
)
def hll_cardinality_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    regs = _hll_reg_table(e)
    ex = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    return _hll_readout(regs, ex)


def _hll_readout(
    regs: DataFrame,
    ex: DataFrame,
    group: str = "event_type",
    exact: str = "n_exact",
    est: str = "hll_estimate",
) -> DataFrame:
    """Estimate + error columns from a full-grid register table and an
    exact-count table — the tail the batch and streaming twins share
    (column names parameterized so the approx-NDV profile twin reuses the
    one estimator readout instead of re-implementing it)."""
    agg = _hll_agg(regs.groupBy(group))
    raw = _hll_raw_estimate()
    return agg.join(ex, group).select(
        group,
        exact,
        "v_zero",
        "s_harm",
        F.round(raw, 4).alias(est),
        F.round((raw - F.col(exact)) / F.col(exact), 6).alias("rel_error"),
    )


def _hll_rho(e: DataFrame) -> DataFrame:
    """SPARSE registers (event_type, bucket, reg) — observed buckets only.
    groupBy + MAX is exactly the HLL merge, so this is also valid as a
    complete-mode streaming aggregation whose state IS the sketch
    (stream_hll_cardinality)."""
    hv = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10
    ).cast("long")
    return (
        e.select("event_type", hv.alias("hv"))
        .select(
            "event_type",
            (F.col("hv") % HLL_M).alias("bucket"),
            F.expr(f"hv div {HLL_M}").alias("r"),
        )
        .withColumn(
            "rho",
            F.when(F.col("r") == 0, F.lit(51)).otherwise(
                51 - F.length(F.bin(F.col("r")))
            ),
        )
        .groupBy("event_type", "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def _hll_complete_grid(rho: DataFrame) -> DataFrame:
    """Sparse registers -> the FULL m-bucket grid with explicit zeros (the
    readout's v_zero needs them). Types are taken from the sparse table:
    any type with >= 1 row has >= 1 register, so nothing is lost. The join
    side is column-RENAMED, not DataFrame-aliased: grid derives from rho
    itself, and Spark's self-join attribute dedup drops aliased common
    columns when the base is a catalog table (the streaming twin feeds the
    memory-sink table here — same workaround as quantile_sketch_quantiles)."""
    grid = (
        rho.select("event_type")
        .distinct()
        .select(
            "event_type",
            F.explode(F.sequence(F.lit(0), F.lit(HLL_M - 1))).alias("bucket"),
        )
    )
    r = rho.select(
        F.col("event_type").alias("r_type"),
        F.col("bucket").alias("r_bucket"),
        F.col("reg").alias("r_reg"),
    )
    return grid.join(
        r,
        (F.col("r_type") == F.col("event_type"))
        & (F.col("r_bucket") == F.col("bucket")),
        "left",
    ).select(
        "event_type",
        "bucket",
        F.coalesce(F.col("r_reg"), F.lit(0)).alias("reg"),
    )


def _hll_reg_table(e: DataFrame) -> DataFrame:
    """(event_type, bucket, reg) over the FULL m-bucket grid (explicit
    zeros) — the mergeable HLL state. Shared by the per-type estimate and
    the set-algebra query so the register derivation has one source of
    truth."""
    return _hll_complete_grid(_hll_rho(e))


def _hll_agg(grouped) -> DataFrame:
    """Register table -> (s_harm, v_zero) integer-rational readout state."""
    return grouped.agg(
        F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), 51 - reg)"))
        .cast("long")
        .alias("s_harm"),
        F.sum(F.when(F.col("reg") == 0, 1).otherwise(0))
        .cast("long")
        .alias("v_zero"),
    )


def _hll_raw_estimate(s_harm: str = "s_harm", v_zero: str = "v_zero"):
    """The HLL estimator over (s_harm, v_zero) columns: one float division
    of the shared precomputed alpha literal, plus the standard
    linear-counting branch for the small regime."""
    a_const = float(_HLL_A)
    return F.when(
        (F.lit(a_const) / F.col(s_harm) <= 2.5 * HLL_M)
        & (F.col(v_zero) > 0),
        HLL_M * F.log(HLL_M * 1.0 / F.col(v_zero)),
    ).otherwise(F.lit(a_const) / F.col(s_harm))


# the same estimator as SQL text, parameterized by the state column names —
# one source of truth for every readout in the set-algebra oracle
def _hll_est_sql(s: str, v: str) -> str:
    return (
        f"CASE WHEN {_HLL_A} / {s} <= 2.5 * {HLL_M} AND {v} > 0 "
        f"THEN {HLL_M} * ln({HLL_M} * 1.0 / {v}) "
        f"ELSE {_HLL_A} / {s} END"
    )


@register(
    QUERIES,
    "hll_set_algebra",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
               AS hv
      FROM events
    ), rho AS (
      SELECT event_type, hv % {HLL_M} AS bucket,
             max(CASE WHEN hv // {HLL_M} = 0 THEN 51
                      ELSE 51 - length(bin(hv // {HLL_M})) END) AS reg
      FROM h GROUP BY 1, 2
    ), grid AS (
      SELECT event_type, unnest(range({HLL_M})) AS bucket
      FROM (SELECT DISTINCT event_type FROM events)
    ), regs AS (
      SELECT g.event_type, g.bucket, coalesce(r.reg, 0) AS reg
      FROM grid g LEFT JOIN rho r
        ON r.event_type = g.event_type AND r.bucket = g.bucket
    ), agg AS (
      SELECT event_type,
             CAST(sum(1::BIGINT << (51 - reg)) AS BIGINT) AS s_harm,
             CAST(sum(CASE WHEN reg = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS v_zero
      FROM regs GROUP BY 1
    ), pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM (SELECT DISTINCT event_type FROM events) a
      JOIN (SELECT DISTINCT event_type FROM events) b
        ON a.event_type < b.event_type
    ), uagg AS (  -- union sketch = register-wise MAX, then the same readout
      SELECT p.type_a, p.type_b,
             CAST(sum(1::BIGINT << (51 - greatest(ra.reg, rb.reg)))
                  AS BIGINT) AS s_union,
             CAST(sum(CASE WHEN greatest(ra.reg, rb.reg) = 0 THEN 1 ELSE 0
                      END) AS BIGINT) AS v_union
      FROM pairs p
      JOIN regs ra ON ra.event_type = p.type_a
      JOIN regs rb ON rb.event_type = p.type_b AND rb.bucket = ra.bucket
      GROUP BY 1, 2
    ), est AS (
      SELECT u.type_a, u.type_b, u.s_union, u.v_union,
             {_hll_est_sql('aa.s_harm', 'aa.v_zero')} AS raw_a,
             {_hll_est_sql('ab.s_harm', 'ab.v_zero')} AS raw_b,
             {_hll_est_sql('u.s_union', 'u.v_union')} AS raw_u
      FROM uagg u
      JOIN agg aa ON aa.event_type = u.type_a
      JOIN agg ab ON ab.event_type = u.type_b
    ), tu AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), exact_u AS (
      SELECT type_a, type_b,
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_union_exact
      FROM (
        SELECT p.type_a, p.type_b, t.user_id
        FROM pairs p JOIN tu t ON t.event_type = p.type_a
        UNION ALL
        SELECT p.type_a, p.type_b, t.user_id
        FROM pairs p JOIN tu t ON t.event_type = p.type_b
      ) GROUP BY 1, 2
    ), exact_i AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_inter_exact
      FROM tu a JOIN tu b
        ON b.user_id = a.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT e.type_a, e.type_b, e.s_union, e.v_union,
           round(e.raw_a, 4) AS hll_a,
           round(e.raw_b, 4) AS hll_b,
           round(e.raw_u, 4) AS hll_union,
           round(e.raw_a + e.raw_b - e.raw_u, 4) AS hll_inter,
           xu.n_union_exact,
           coalesce(xi.n_inter_exact, 0) AS n_inter_exact,
           round((e.raw_u - xu.n_union_exact) / xu.n_union_exact, 6)
             AS rel_err_union
    FROM est e
    JOIN exact_u xu ON xu.type_a = e.type_a AND xu.type_b = e.type_b
    LEFT JOIN exact_i xi ON xi.type_a = e.type_a AND xi.type_b = e.type_b
    """,
    doc="HLL set algebra over the per-type register tables (r7 verdict ask "
    "#4): union = register-wise MAX (the lossless merge that makes HLL the "
    "standard distributed-distinct structure — union of sketches IS the "
    "sketch of the union, pinned by the split-merge parity test), "
    "intersection = inclusion-exclusion over the three estimates. The "
    "union state (s_union, v_union) stays integer-rational so both engines "
    "reach the float readouts with identical integers; exact per-pair "
    "union/intersection counts ride along for the error columns. At 100 TB "
    "the register tables are |groups| x m longs merged cell-wise — "
    "cross-day / cross-shard distincts never rescan data.",
)
def hll_set_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    # Materialize the two base aggregates: without this the executed plan
    # re-scans events 18 TIMES (one per branch consumer; Spark 4 applies no
    # exchange reuse across these self-join branches — counted on the
    # executed plan). regs is |types| x m rows, tu is the distinct
    # (type, user) table; the lazy checkpoint costs ~0.1 s constant at
    # sf0.1 (within rep spread, interleaved A/B) and caps the 100 TB scan
    # term at TWO passes over events instead of eighteen.
    regs = materialize(_hll_reg_table(e), eager=False)
    agg = _hll_agg(regs.groupBy("event_type"))
    # types from the materialized regs, not the base table: zero extra scans
    types = regs.select("event_type").distinct()
    pairs = (
        types.withColumnRenamed("event_type", "type_a")
        .join(
            types.withColumnRenamed("event_type", "type_b"),
            F.col("type_a") < F.col("type_b"),
        )
    )
    ra = regs.withColumnsRenamed({"event_type": "type_a", "reg": "reg_a"})
    rb = regs.withColumnsRenamed({"event_type": "type_b", "reg": "reg_b"})
    # union sketch: register-wise MAX across the pair's register tables
    uregs = (
        pairs.join(ra, "type_a")
        .join(rb, ["type_b", "bucket"])
        .select(
            "type_a",
            "type_b",
            F.greatest("reg_a", "reg_b").alias("reg"),
        )
    )
    uagg = _hll_agg(uregs.groupBy("type_a", "type_b")).withColumnsRenamed(
        {"s_harm": "s_union", "v_zero": "v_union"}
    )
    aa = agg.withColumnsRenamed(
        {"event_type": "type_a", "s_harm": "s_a", "v_zero": "v_a"}
    )
    ab = agg.withColumnsRenamed(
        {"event_type": "type_b", "s_harm": "s_b", "v_zero": "v_b"}
    )
    est = (
        uagg.join(aa, "type_a")
        .join(ab, "type_b")
        .select(
            "type_a",
            "type_b",
            "s_union",
            "v_union",
            _hll_raw_estimate("s_a", "v_a").alias("raw_a"),
            _hll_raw_estimate("s_b", "v_b").alias("raw_b"),
            _hll_raw_estimate("s_union", "v_union").alias("raw_u"),
        )
    )
    tu = e.select("event_type", "user_id").distinct().transform(
        cut(eager=False)
    )
    ua = pairs.join(tu.withColumnRenamed("event_type", "type_a"), "type_a")
    ub = pairs.join(tu.withColumnRenamed("event_type", "type_b"), "type_b")
    exact_u = (
        ua.select("type_a", "type_b", "user_id")
        .unionByName(ub.select("type_a", "type_b", "user_id"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").cast("long").alias("n_union_exact"))
    )
    ta = tu.withColumnRenamed("event_type", "type_a")
    tb = tu.withColumnRenamed("event_type", "type_b")
    exact_i = (
        ta.join(tb, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.countDistinct("user_id").cast("long").alias("n_inter_exact"))
    )
    return (
        est.join(exact_u, ["type_a", "type_b"])
        .join(exact_i, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "s_union",
            "v_union",
            F.round("raw_a", 4).alias("hll_a"),
            F.round("raw_b", 4).alias("hll_b"),
            F.round("raw_u", 4).alias("hll_union"),
            F.round(
                F.col("raw_a") + F.col("raw_b") - F.col("raw_u"), 4
            ).alias("hll_inter"),
            "n_union_exact",
            F.coalesce("n_inter_exact", F.lit(0).cast("long")).alias(
                "n_inter_exact"
            ),
            F.round(
                (F.col("raw_u") - F.col("n_union_exact"))
                / F.col("n_union_exact"),
                6,
            ).alias("rel_err_union"),
        )
    )
