"""Corpus-preparation operators for training-data pipelines (north star
surface): eval-set decontamination, vocabulary building + OOV audit, TF-IDF
keyword extraction, and overlapping chunking for retrieval indexes.

These complete the LLM-data families next to dedup/quality/sampling: before a
100 TB corpus is trained on, it is (1) scrubbed of eval-set n-gram overlap,
(2) audited against a fixed vocabulary, (3) keyword-indexed, and (4) chunked
with overlap for retrieval. All four are oracle-checked; all hot paths are
JVM-side array lambdas / joins (no Python), and the only small sides
(eval-gram set, vocabulary, corpus-size scalar) are explicit broadcasts.

Reference parity note: the reference engine (Alvearie hri-flink-validation,
~154 LoC shell around pipeline-core) has no analytics surface; these ops are
the north-star extensions mandated by SURVEY.md §2's LLM-pipeline inventory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import floor_nudge
from ..plans import QuerySpec, register
from ..session import load_table
from .dedup import _shingles_for
from ..materialize import cut, materialize

QUERIES: dict[str, QuerySpec] = {}

# Eval-set membership: a deterministic content-independent holdout
# (doc_id % EVAL_MOD == EVAL_REM), ~1% of the corpus at any SF.
EVAL_MOD = 97
EVAL_REM = 3
DECONTAM_N = 5  # n-gram width for contamination matching (13 in practice;
# 5 here so the synthetic word-soup corpus actually produces overlaps)

VOCAB_K = 100  # vocabulary size for the OOV audit
TFIDF_TOP = 3  # keywords kept per document

CHUNK_C = 32  # chunk width (tokens)
CHUNK_S = 24  # chunk stride (tokens) -> 8-token overlap between chunks

# DuckDB twin of dedup._shingles at n=5 (same tokenization, same distinct).
_SQL_SHINGLES_5 = """
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id,
             list_distinct(list_transform(range(1, len(toks) - 3),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' '
                    || toks[i+3] || ' ' || toks[i+4])) AS sh
      FROM t WHERE len(toks) >= 5
    )
"""


def _tok(d: DataFrame) -> DataFrame:
    """(doc_id, token) exploded rows, same tokenization as the oracle."""
    return d.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )


@register(
    QUERIES,
    "decontam_ngram_overlap",
    oracle=f"""
    {_SQL_SHINGLES_5},
    ev AS (
      SELECT DISTINCT unnest(sh) AS g FROM s WHERE doc_id % {EVAL_MOD} = {EVAL_REM}
    ), tr AS (
      SELECT doc_id, sh FROM s WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}
    ), hits AS (
      SELECT e.doc_id, count(*) AS n_shared
      FROM (SELECT doc_id, unnest(sh) AS g FROM tr) e JOIN ev USING (g)
      GROUP BY e.doc_id
    )
    SELECT tr.doc_id,
           CAST(n_shared AS BIGINT)  AS n_shared,
           CAST(len(sh) AS BIGINT)   AS n_grams,
           round(CAST(n_shared AS DOUBLE) / len(sh), 6) AS contam_ratio
    FROM tr JOIN hits ON tr.doc_id = hits.doc_id
    """,
    doc="Eval-set decontamination (the n-gram-overlap scrub every training "
    "corpus runs before release): a deterministic ~1% holdout's distinct "
    f"{DECONTAM_N}-gram set is built once and BROADCAST; training docs are "
    "flagged with their count and fraction of shingles that collide. At "
    "100 TB the eval side is tiny by construction (eval sets are MBs), so "
    "the match is a map-side broadcast hash join on the exploded training "
    "shingles — one shuffle total (the per-doc count). Shares dedup's "
    "shingle builder so tokenization cannot drift between families.",
)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _shingles_for(spark, sf_dir, DECONTAM_N)
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_REM
    ev_grams = (
        sh.filter(is_eval).select(F.explode("sh").alias("g")).distinct()
    )
    tr = sh.filter(~is_eval)
    hits = (
        tr.select("doc_id", F.explode("sh").alias("g"))
        .join(F.broadcast(ev_grams), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sizes = tr.select("doc_id", F.size("sh").cast("long").alias("n_grams"))
    return sizes.join(hits, "doc_id").select(
        "doc_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        "n_grams",
        F.round(F.col("n_shared").cast("double") / F.col("n_grams"), 6).alias(
            "contam_ratio"
        ),
    )


@register(
    QUERIES,
    "vocab_oov_rate",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ), v AS (
      SELECT token FROM tok GROUP BY token
      ORDER BY count(*) DESC, token LIMIT {VOCAB_K}
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (WHERE token IN (SELECT token FROM v))
                AS BIGINT) AS n_in_vocab,
           round(1.0 - CAST(count(*) FILTER (
                 WHERE token IN (SELECT token FROM v)) AS DOUBLE) / count(*),
                 6) AS oov_ratio
    FROM tok GROUP BY doc_id
    """,
    doc=f"Vocabulary build + out-of-vocabulary audit: the top-{VOCAB_K} "
    "tokens by corpus frequency (ties broken by token, so the cut is "
    "deterministic) become the vocabulary; every document reports its OOV "
    "token fraction. The vocab is produced by a TakeOrdered top-K (no "
    "global sort materialization) and joined back as a BROADCAST, so the "
    "per-token membership test is map-side; the only shuffles are the "
    "vocab count and the per-doc rollup. The same shape serves tokenizer "
    "coverage checks before committing a vocab to a 100 TB run.",
)
def vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = _tok(d)
    vocab = (
        tok.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "token")
        .limit(VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    joined = tok.join(F.broadcast(vocab), "token", "left")
    n_tokens = F.count(F.lit(1))
    n_in = F.count("in_vocab")
    return joined.groupBy("doc_id").agg(
        n_tokens.cast("long").alias("n_tokens"),
        n_in.cast("long").alias("n_in_vocab"),
        F.round(F.lit(1.0) - n_in.cast("double") / n_tokens, 6).alias(
            "oov_ratio"
        ),
    )


@register(
    QUERIES,
    "tfidf_top_terms",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token
      FROM documents
    ), tf AS (
      SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token
    ), df AS (
      SELECT token, count(*) AS dfreq FROM tf GROUP BY token
    ), n AS (
      SELECT count(DISTINCT doc_id) AS n_docs FROM tok
    ), scored AS (
      SELECT doc_id, token, tf, dfreq,
             tf * ln((n_docs + 1.0) / (dfreq + 1.0)) AS score
      FROM tf JOIN df USING (token) CROSS JOIN n
    )
    SELECT doc_id, token,
           CAST(tf AS BIGINT) AS tf,
           CAST(dfreq AS BIGINT) AS dfreq,
           round(score, 6) AS score,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, token) AS rnk
      FROM scored
    ) WHERE rnk <= {TFIDF_TOP}
    """,
    doc=f"TF-IDF keyword extraction: top-{TFIDF_TOP} terms per document by "
    "tf*ln((N+1)/(df+1)), ties broken by token. The corpus-size scalar N "
    "is a 1-row aggregate broadcast cross join (same pattern as BM25); "
    "term document-frequency comes from the (doc,term) partial, so the "
    "corpus is tokenized exactly once. Per-doc ranking is a window over "
    "the doc key — at 100 TB this is two shuffles (doc+term rollup, doc "
    "window) and a broadcast; nothing global.",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    tok = _tok(d)
    # tf is the aggregated (doc, token) table reused by THREE consumers
    # (df, n_docs, scoring join) — persisted so the tokenize+explode scan
    # runs once; n_docs derives from tf (every doc has >= 1 token row)
    # (localCheckpoint, not persist: reference-released — repo convention)
    tf = (
        tok.groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
        .transform(cut())
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("dfreq"))
    n = tf.agg(F.countDistinct("doc_id").alias("n_docs"))
    scored = (
        tf.join(df_, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            F.col("tf")
            * F.log((F.col("n_docs") + F.lit(1.0)) / (F.col("dfreq") + F.lit(1.0))),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_TOP)
        .select(
            "doc_id",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("dfreq").cast("long").alias("dfreq"),
            F.round("score", 6).alias("score"),
            F.col("rnk").cast("long").alias("rnk"),
        )
    )


@register(
    QUERIES,
    "chunk_overlap_windows",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id, toks,
             CASE WHEN len(toks) <= {CHUNK_C} THEN 1
                  ELSE (len(toks) - {CHUNK_C} + {CHUNK_S} - 1) // {CHUNK_S} + 1
             END AS n_chunks
      FROM t
    ), k AS (
      SELECT doc_id, toks, unnest(range(0, n_chunks)) AS k FROM c
    )
    SELECT doc_id,
           CAST(k AS BIGINT)             AS chunk_id,
           CAST(k * {CHUNK_S} AS BIGINT) AS start_token,
           CAST(len(toks[k*{CHUNK_S}+1 : k*{CHUNK_S}+{CHUNK_C}]) AS BIGINT)
                                         AS n_chunk_tokens,
           md5(array_to_string(toks[k*{CHUNK_S}+1 : k*{CHUNK_S}+{CHUNK_C}], ' '))
                                         AS chunk_md5
    FROM k
    """,
    doc=f"Overlapping chunking for retrieval indexes: {CHUNK_C}-token chunks "
    f"at stride {CHUNK_S} ({CHUNK_C - CHUNK_S}-token overlap), the standard "
    "RAG-ingest shape (complements sequence_packing, which packs WITHOUT "
    "overlap for training). Chunk count is exact integer math (no float "
    "ceil), slices come from one in-row sequence+transform+posexplode — "
    "map-side only, zero shuffles, linear output amplification C/S. Each "
    "chunk carries its md5 so a downstream embedder can dedup chunks "
    "before paying for inference.",
)
def chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size("toks")
    n_chunks = F.when(n <= CHUNK_C, F.lit(1)).otherwise(
        F.expr(
            f"CAST((size(toks) - {CHUNK_C} + {CHUNK_S} - 1) DIV {CHUNK_S} AS INT) + 1"
        )
    )
    base = (
        d.select("doc_id", toks.alias("toks"))
        .withColumn("k", F.explode(F.sequence(F.lit(0), n_chunks - 1)))
    )
    chunk = F.slice(F.col("toks"), F.col("k") * CHUNK_S + 1, CHUNK_C)
    return base.select(
        "doc_id",
        F.col("k").cast("long").alias("chunk_id"),
        (F.col("k") * CHUNK_S).cast("long").alias("start_token"),
        F.size(chunk).cast("long").alias("n_chunk_tokens"),
        F.md5(F.concat_ws(" ", chunk).cast("binary")).alias("chunk_md5"),
    )


# ---- Tokenizer-training statistics -----------------------------------------
BPE_TOP = 30  # merge candidates kept


@register(
    QUERIES,
    "bpe_pair_merge_stats",
    oracle=f"""
    WITH t AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), p AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
      FROM t
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM p GROUP BY 1
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_TOP}
    """,
    doc="The statistics pass of one BPE merge step (tokenizer training over "
    "a corpus): count every ADJACENT symbol pair corpus-wide and rank the "
    "top merge candidates — here at the whitespace-word level the synthetic "
    "corpus supports; byte/char level is the same plan with a different "
    "splitter. zip_with over two shifted slices builds pairs in-row "
    "(codegen, zero shuffle until the count), one groupBy, "
    "TakeOrderedAndProject for the top-K. Integer counts with a pair "
    "tiebreak — no float compare surface at all.",
)
def bpe_pair_merge_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    n = F.size("toks")
    pairs = F.zip_with(
        F.slice(F.col("toks"), 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return (
        d.select(toks.alias("toks"))
        .select(F.explode(pairs).alias("pair"))
        .groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(BPE_TOP)
    )


PMI_W = 3  # skip-gram window: pairs (tok_i, tok_{i+k}) for k = 1..3
PMI_MIN = 5  # minimum pair count to score
PMI_TOP = 25


@register(
    QUERIES,
    "pmi_cooccurrence_topk",
    oracle=f"""
    WITH t AS (
      SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS toks
      FROM documents
    ), pr AS (
      SELECT unnest(
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i+1])
            || list_transform(range(1, len(toks) - 1),
                              i -> toks[i] || ' ' || toks[i+2])
            || list_transform(range(1, len(toks) - 2),
                              i -> toks[i] || ' ' || toks[i+3])) AS pair
      FROM t
    ), pc AS (
      SELECT pair, count(*) AS c FROM pr GROUP BY 1
    ), u AS (SELECT unnest(toks) AS w FROM t),
    uc AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
    tots AS (
      SELECT (SELECT count(*) FROM pr) AS tp, (SELECT count(*) FROM u) AS tu
    ), scored AS (
      SELECT pc.pair, pc.c AS n_pair,
             ln((pc.c * 1.0 * tu * tu) / (tp * 1.0 * ca.c * cb.c)) AS pmi
      FROM pc CROSS JOIN tots
      JOIN uc ca ON ca.w = split_part(pc.pair, ' ', 1)
      JOIN uc cb ON cb.w = split_part(pc.pair, ' ', 2)
      WHERE pc.c >= {PMI_MIN}
    )
    SELECT pair, CAST(n_pair AS BIGINT) AS n_pair,
           floor(pmi * 1000000 + 0.500001) / 1000000 AS pmi
    FROM scored
    ORDER BY pmi DESC, pair
    LIMIT {PMI_TOP}
    """,
    doc="Pointwise mutual information over skip-gram co-occurrences (the "
    "word2vec-SGNS / GloVe preprocessing statistic): pairs (tok_i, "
    "tok_(i+k)) for k<=3 built in-row from shifted slices, pair + unigram "
    "count tables, PMI = ln(c_ab*Tu^2 / (Tp*c_a*c_b)) with the two corpus "
    "totals as a 1-row broadcast. Unigram counts join back via the pair's "
    "two words (broadcast — vocabulary-sized). Rounded-6 PMI before the "
    "top-K with pair tiebreak. Linear output amplification W per token; "
    "at 100 TB the only non-linear object is the vocabulary-sized count "
    "table, which stays broadcastable by Zipf's law (or hash-joins if not).",
)
def pmi_cooccurrence_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    t = d.select(toks.alias("toks"))
    n = F.size("toks")

    def shifted_pairs(k: int):
        # clamp: a document with <= k tokens contributes no pairs at gap k.
        # Without the clamp the slice length goes NEGATIVE and Spark's slice
        # throws at runtime, while the oracle's range() just yields empty —
        # latent under the current 10-token-minimum fixtures, fatal on real
        # corpora with short documents.
        ln = F.greatest(n - k, F.lit(0))
        return F.zip_with(
            F.slice(F.col("toks"), 1, ln),
            F.slice(F.col("toks"), 1 + k, ln),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )

    pr = t.select(
        F.explode(
            F.concat(*[shifted_pairs(k) for k in range(1, PMI_W + 1)])
        ).alias("pair")
    )
    pc = pr.groupBy("pair").agg(F.count(F.lit(1)).alias("n_pair")).transform(cut())
    u = t.select(F.explode("toks").alias("w"))
    # (both aggregates localCheckpoint: each feeds the totals AND the
    # scoring join; reference-released, never per-call persists)
    uc = u.groupBy("w").agg(F.count(F.lit(1)).alias("c")).transform(cut())
    # corpus totals from the AGGREGATED tables (sum of counts == row count
    # of the exploded stream) — re-counting pr/u directly would re-run the
    # two explode scans just for two scalars
    tots = pc.agg(F.sum("n_pair").alias("tp")).crossJoin(
        uc.agg(F.sum("c").alias("tu"))
    )
    ca = uc.select(F.col("w").alias("wa"), F.col("c").alias("ca"))
    cb = uc.select(F.col("w").alias("wb"), F.col("c").alias("cb"))
    scored = (
        pc.filter(F.col("n_pair") >= PMI_MIN)
        .crossJoin(F.broadcast(tots))
        .join(
            F.broadcast(ca),
            F.substring_index("pair", " ", 1) == F.col("wa"),
        )
        .join(
            F.broadcast(cb),
            F.substring_index("pair", " ", -1) == F.col("wb"),
        )
        .withColumn(
            "pmi",
            F.log(
                (F.col("n_pair") * 1.0 * F.col("tu") * F.col("tu"))
                / (F.col("tp") * 1.0 * F.col("ca") * F.col("cb"))
            ),
        )
    )
    return (
        scored.select(
            "pair",
            F.col("n_pair").cast("long").alias("n_pair"),
            floor_nudge(F.col("pmi"), 6).alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "pair")
        .limit(PMI_TOP)
    )


# ---- Train/val/test split + length-bucketed batching ----------------------
SPLIT_TEST_PCT = 5
SPLIT_VAL_PCT = 5  # val occupies [test, test+val)


@register(
    QUERIES,
    "corpus_train_val_test_split",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, source, n_chars,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 8))::BIGINT
               % 100 AS b
      FROM documents
    ), s AS (
      SELECT source,
             CASE WHEN b < {SPLIT_TEST_PCT} THEN 'test'
                  WHEN b < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'val'
                  ELSE 'train' END AS split,
             n_chars
      FROM h
    )
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars
    FROM s GROUP BY 1, 2
    """,
    doc="Deterministic content-independent train/val/test split (5/5/90) "
    "via salted md5(doc_id) buckets — the split every training corpus "
    "needs, reproducible across engines, runs, and data relocations "
    "because it depends on the id alone (no rand(), no ordering). "
    "Per-(source, split) doc/char totals audit stratification drift. "
    "Pure map-side expression + one aggregation.",
)
def corpus_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("source", split_assignment_col().alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )


def split_assignment_col():
    """The salted-md5 train/val/test assignment Column over ``doc_id`` —
    single-sourced so every consumer (the registered audit above, pipeline
    stages splitting a FILTERED corpus in tests/test_corpus_pipeline_e2e.py)
    buckets identically; content-independent by construction, so upstream
    filtering can only remove docs, never move one across splits."""
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|split-v1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    return (
        F.when(b < SPLIT_TEST_PCT, "test")
        .when(b < SPLIT_TEST_PCT + SPLIT_VAL_PCT, "val")
        .otherwise("train")
    )


LB_WIDTH = 32  # token-length bucket width
LB_BATCH = 16  # sequences per batch


@register(
    QUERIES,
    "length_bucket_batching",
    oracle=f"""
    WITH t AS (
      SELECT len(regexp_split_to_array(lower(trim(text)), '\\s+')) AS n_tokens
      FROM documents
    ), b AS (
      SELECT n_tokens // {LB_WIDTH} AS bucket, n_tokens FROM t
    ), g AS (
      SELECT bucket, count(*) AS n_docs, max(n_tokens) AS max_tokens,
             sum(n_tokens) AS total_tokens,
             (count(*) + {LB_BATCH} - 1) // {LB_BATCH} AS n_batches
      FROM b GROUP BY 1
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_batches AS BIGINT) AS n_batches,
           CAST(max_tokens AS BIGINT) AS max_tokens,
           floor((1.0 - total_tokens * 1.0 / (n_batches * {LB_BATCH} * max_tokens))
                 * 10000 + 0.500001) / 10000 AS pad_waste_pct
    FROM g
    """,
    doc="Length-bucketed batch packing audit (the dynamic-batching "
    "preprocessing every trainer does to cut padding): docs bucketed by "
    "token length / 32, per-bucket batch count at 16 sequences/batch, and "
    "the padding-waste fraction if each batch pads to the bucket's max "
    "length. Pure integer bucket algebra + one aggregation; the single "
    "ratio is floor-nudged. Complements sequence_packing (which packs "
    "WITHOUT padding) by quantifying what padding costs instead.",
)
def length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.lower(F.trim(F.col("text"))), r"\s+"))
    b = d.select(
        F.floor(n_tokens / LB_WIDTH).cast("long").alias("bucket"),
        n_tokens.alias("n_tokens"),
    )
    g = b.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("n_tokens").alias("max_tokens"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    n_batches = F.floor((F.col("n_docs") + LB_BATCH - 1) / LB_BATCH).cast("long")
    waste = 1.0 - F.col("total_tokens") * 1.0 / (
        F.col("n_batches") * LB_BATCH * F.col("max_tokens")
    )
    return (
        g.withColumn("n_batches", n_batches)
        .select(
            "bucket",
            F.col("n_docs").cast("long").alias("n_docs"),
            "n_batches",
            F.col("max_tokens").cast("long").alias("max_tokens"),
            floor_nudge(waste, 4).alias("pad_waste_pct"),
        )
    )


KL_VOCAB = 100  # shared vocabulary size for the divergence


@register(
    QUERIES,
    "corpus_split_kl_divergence",
    oracle=f"""
    WITH h AS (
      SELECT source, text,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|split-v1'), 1, 8))::BIGINT
                       % 100 < {SPLIT_TEST_PCT + SPLIT_VAL_PCT} THEN 'heldout'
                  ELSE 'train' END AS split
      FROM documents
    ), u AS (
      SELECT source, split,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS w
      FROM h
    ), vocab AS (
      SELECT w FROM (
        SELECT w, count(*) AS c,
               row_number() OVER (ORDER BY count(*) DESC, w) AS rn
        FROM u GROUP BY w
      ) WHERE rn <= {KL_VOCAB}
    ), grid AS (
      SELECT DISTINCT u.source, vocab.w FROM u CROSS JOIN vocab
    ), c AS (
      SELECT u.source, u.w,
             sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
             sum(CASE WHEN split = 'heldout' THEN 1 ELSE 0 END) AS ch
      FROM u JOIN vocab ON u.w = vocab.w
      GROUP BY 1, 2
    ), dense AS (
      SELECT g.source, g.w, coalesce(c.ct, 0) AS ct, coalesce(c.ch, 0) AS ch
      FROM grid g LEFT JOIN c ON g.source = c.source AND g.w = c.w
    ), tot AS (
      SELECT source, sum(ct) AS tt, sum(ch) AS th FROM dense GROUP BY 1
    ), terms AS (
      SELECT dense.source,
             ((ct + 1.0) / (tt + {KL_VOCAB})) *
               ln(((ct + 1.0) / (tt + {KL_VOCAB}))
                  / ((ch + 1.0) / (th + {KL_VOCAB}))) AS term,
             ct, ch
      FROM dense JOIN tot ON dense.source = tot.source
    )
    SELECT source,
           CAST(sum(ct) AS BIGINT) AS n_train_tokens,
           CAST(sum(ch) AS BIGINT) AS n_heldout_tokens,
           floor(sum(term) * 1000000 + 0.500001) / 1000000 AS kl_train_heldout
    FROM terms GROUP BY source
    """,
    doc="Distribution drift between the train split and the heldout "
    "(val+test) split, per source: add-one-smoothed KL divergence over the "
    "global top-100 vocabulary (dense source x vocab grid so zero-count "
    "words contribute their smoothed mass — the drift signal a mixture "
    "pipeline monitors before a training run). Vocabulary cut is "
    "count-with-word-tiebreak (deterministic); the grid is n_sources x 100 "
    "rows regardless of data size; single KL aggregate floor-nudged at 6.",
)
def corpus_split_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    b = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("|split-v1"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    split = F.when(b < SPLIT_TEST_PCT + SPLIT_VAL_PCT, "heldout").otherwise("train")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    u = d.select("source", split.alias("split"), F.explode(toks).alias("w"))
    # consumed three times (vocab cut, counts, grid sources); lazy
    # localCheckpoint so the events-sized exploded stream is not
    # materialized before its first consumer, and reference-released
    # after — a per-call persist pinned it for the session lifetime
    u = materialize(u, eager=False)
    vocab = (
        u.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(KL_VOCAB)
        .select("w")
    )
    sources = u.select("source").distinct()
    grid = sources.crossJoin(F.broadcast(vocab))
    c = (
        u.join(F.broadcast(vocab), "w")
        .groupBy("source", "w")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0)).alias("ct"),
            F.sum(F.when(F.col("split") == "heldout", 1).otherwise(0)).alias("ch"),
        )
    )
    dense = grid.join(c, ["source", "w"], "left").select(
        "source",
        "w",
        F.coalesce("ct", F.lit(0)).alias("ct"),
        F.coalesce("ch", F.lit(0)).alias("ch"),
    )
    tot = dense.groupBy("source").agg(
        F.sum("ct").alias("tt"), F.sum("ch").alias("th")
    )
    joined = dense.join(F.broadcast(tot), "source")
    p = (F.col("ct") + 1.0) / (F.col("tt") + KL_VOCAB)
    q = (F.col("ch") + 1.0) / (F.col("th") + KL_VOCAB)
    term = p * F.log(p / q)
    return joined.groupBy("source").agg(
        F.sum("ct").cast("long").alias("n_train_tokens"),
        F.sum("ch").cast("long").alias("n_heldout_tokens"),
        floor_nudge(F.sum(term), 6).alias("kl_train_heldout"),
    )
