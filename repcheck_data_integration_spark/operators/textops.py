"""Corpus-level text operators for training-data pipelines (round 2).

Reference seed: the text-cleanup regexes at
/root/reference/scripts/ai/summarize_bills_federal.py:67-82 (regex
normalization before LLM consumption) — generalized to the standard
pre-training corpus passes: PII redaction, repetition signals, TF-IDF
term weighting, vocabulary statistics.

Scale notes (the 100 TB shapes):
- per-document ops (pii_redact) are single-scan, shuffle-free, fully
  codegen'd native expressions;
- corpus ops (repetition, tfidf, vocab) explode to one row per token
  OCCURRENCE and immediately hash-aggregate to (doc, term) — the partial
  aggregation happens map-side, so the shuffle carries the *distinct*
  doc-term pairs (Zipf-compressed), not the raw token stream;
- the document-frequency join shuffles on term, the natural key; the
  scalar corpus size joins in via broadcast.

Every regex sticks to the syntax subset where Java regex (Spark) and RE2
(DuckDB) agree; DuckDB's regexp_replace needs the explicit 'g' flag where
Spark is global by default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.kernels import hash_bucket, spark_sql_md5_long
from ..functions.top1 import ASC, DESC, Top1
from ..registry import register
from ..tables import literal_frame, load
from .ckpt import pin
from .dedup import (
    SQL_SHINGLES,
    TOKEN_RE,
    shingles_from_tokens,
    sql_stable_round4,
    stable_round4,
    tokens,
)

EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "[0-9]{3}-[0-9]{3}-[0-9]{4}"


@register(
    "text_pii_redact",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               text || ' contact u' || CAST(doc_id AS VARCHAR)
                    || '@example.com or ' || CAST(doc_id % 900 + 100 AS VARCHAR)
                    || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                   AS raw
        FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT)
               AS n_phones,
           md5(regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5,
           CAST(length(regexp_replace(regexp_replace(raw, '{EMAIL_RE}',
                                                     '<EMAIL>', 'g'),
                              '{PHONE_RE}', '<PHONE>', 'g')) AS BIGINT)
               AS redacted_len
    FROM s
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: find-and-mask emails and phone numbers with
    native regexp_replace (single scan, no shuffle, no UDF). The fixture
    text is synthetic word salad, so deterministic fake PII derived from
    doc_id is appended first — the redaction then has real matches to
    count and mask on both engines."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or "),
        (F.col("doc_id") % 900 + 100).cast("string"),
        F.lit("-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.regexp_count(raw, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
        F.length(redacted).cast("long").alias("redacted_len"),
    )


def term_counts(d: DataFrame) -> DataFrame:
    """(doc_id, tok, cnt) — one row per DISTINCT doc-term pair. The explode
    emits the raw occurrence stream but partial hash aggregation collapses
    it map-side before the shuffle."""
    return (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


SQL_TERM_COUNTS = f"""
        SELECT doc_id, tok, count(*) AS cnt
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS tok
              FROM documents)
        GROUP BY doc_id, tok"""


@register(
    "text_repetition_stats",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    r AS (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY cnt DESC, tok) AS rn
        FROM tc),
    a AS (
        SELECT doc_id, sum(cnt) AS n_tokens, count(*) AS n_distinct
        FROM tc GROUP BY doc_id)
    SELECT a.doc_id,
           CAST(a.n_tokens AS BIGINT) AS n_tokens,
           CAST(a.n_distinct AS BIGINT) AS n_distinct,
           {sql_stable_round4('a.n_distinct * 1.0 / a.n_tokens')}
               AS distinct_ratio,
           r.tok AS top_token,
           CAST(r.cnt AS BIGINT) AS top_count,
           {sql_stable_round4('r.cnt * 1.0 / a.n_tokens')} AS top_share
    FROM a JOIN r ON a.doc_id = r.doc_id AND r.rn = 1
    """,
)
def text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signals (the Gopher-style quality filters): distinct-token
    ratio and most-frequent-token share per document. Both reduce from the
    (doc, term) count relation in ONE more aggregation — the argmax is a
    top-1 aggregate by (cnt DESC, tok ASC), not a second window pass, so
    the whole operator is explode → two aggregations. Docs with zero
    tokens vanish (explode of an empty array), matching the SQL unnest."""
    tc = term_counts(load(spark, sf_dir, "documents"))
    top = Top1(tc, [("cnt", DESC), ("tok", ASC)])
    n_tokens, n_distinct = F.sum("cnt"), F.count(F.lit(1))
    return tc.groupBy("doc_id").agg(
        n_tokens.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        stable_round4(n_distinct * 1.0 / n_tokens).alias("distinct_ratio"),
        top["tok"].alias("top_token"),
        top["cnt"].alias("top_count"),
        stable_round4(top["cnt"] * 1.0 / n_tokens).alias("top_share"),
    )


TFIDF_TOP = 3


@register(
    "text_tfidf_topterms",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    df AS (SELECT tok, count(*) AS doc_freq FROM tc GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    s AS (
        SELECT tc.doc_id, tc.tok AS term,
               {sql_stable_round4(
                   'tc.cnt * ln((n.n_docs + 1.0) / (df.doc_freq + 1.0))')}
                   AS tfidf
        FROM tc JOIN df ON tc.tok = df.tok CROSS JOIN n)
    SELECT doc_id, term, tfidf, CAST(rn AS INT) AS rk
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term) AS rn
          FROM s)
    WHERE rn <= {TFIDF_TOP}
    """,
)
def text_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-{TFIDF_TOP} terms per document: tf from the (doc, term)
    counts, df from one more aggregation of the same relation, idf =
    ln((N+1)/(df+1)) with the corpus size broadcast in as a 1-row frame.
    Ranking happens on the stable-rounded score on BOTH engines so rank
    and emitted value can never disagree. The df join shuffles on term —
    the natural co-location key for inverted-index workloads."""
    d = load(spark, sf_dir, "documents")
    tc = term_counts(d)
    df = tc.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tc.join(df, "tok")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            F.col("tok").alias("term"),
            stable_round4(
                F.col("cnt")
                * F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0))
            ).alias("tfidf"),
        )
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TFIDF_TOP)
        .select("doc_id", "term", "tfidf", F.col("rn").cast("int").alias("rk"))
    )


VOCAB_TOP = 100


@register(
    "text_vocab_topk",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    v AS (
        SELECT tok AS term, sum(cnt) AS total_count, count(*) AS doc_freq
        FROM tc GROUP BY tok)
    SELECT CAST(rn AS INT) AS rank, term,
           CAST(total_count AS BIGINT) AS total_count,
           CAST(doc_freq AS BIGINT) AS doc_freq
    FROM (SELECT *, row_number() OVER (ORDER BY total_count DESC, term) AS rn
          FROM v)
    WHERE rn <= {VOCAB_TOP}
    """,
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary heavy hitters: top-{VOCAB_TOP} terms by total
    occurrence count (vocabulary pruning / tokenizer-training feed). The
    global top-k window runs over the already-aggregated vocabulary — a
    Zipf-compressed relation orders of magnitude smaller than the corpus —
    so the single-partition final sort is over term counts, never rows.
    At 100 TB scale swap the window for a TakeOrderedAndProject (orderBy +
    limit) if the vocabulary itself outgrows one partition."""
    tc = term_counts(load(spark, sf_dir, "documents"))
    v = tc.groupBy(F.col("tok").alias("term")).agg(
        F.sum("cnt").alias("total_count"), F.count(F.lit(1)).alias("doc_freq")
    )
    w = W.orderBy(F.col("total_count").desc(), F.col("term"))
    return (
        v.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= VOCAB_TOP)
        .select(
            F.col("rn").cast("int").alias("rank"),
            "term",
            F.col("total_count").cast("long").alias("total_count"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
        )
    )


@register(
    "pipeline_corpus_curation_v2",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    rep AS (
        SELECT doc_id, sum(cnt) AS n_tokens, count(*) AS n_distinct,
               max(cnt) AS top_cnt
        FROM tc GROUP BY doc_id),
    kept AS (
        SELECT doc_id FROM rep
        WHERE n_tokens BETWEEN 20 AND 1000
          AND n_distinct * 1.0 / n_tokens >= 0.1
          AND top_cnt * 1.0 / n_tokens <= 0.5),
    df AS (SELECT tok, count(*) AS doc_freq FROM tc GROUP BY tok),
    n AS (SELECT count(*) AS n_docs FROM documents),
    best AS (
        SELECT doc_id, tok AS top_term, tfidf AS top_tfidf FROM (
            SELECT tc.doc_id, tc.tok,
                   {sql_stable_round4(
                       'tc.cnt * ln((n.n_docs + 1.0) / (df.doc_freq + 1.0))')}
                       AS tfidf,
                   row_number() OVER (
                       PARTITION BY tc.doc_id
                       ORDER BY {sql_stable_round4(
                           'tc.cnt * ln((n.n_docs + 1.0) / (df.doc_freq + 1.0))'
                       )} DESC, tc.tok) AS rn
            FROM tc JOIN df ON tc.tok = df.tok CROSS JOIN n
            WHERE tc.doc_id IN (SELECT doc_id FROM kept))
        WHERE rn = 1),
    canonical AS (
        SELECT d.doc_id, md5(d.text) AS content_hash,
               min(d.doc_id) OVER (PARTITION BY md5(d.text)) AS canon
        FROM documents d
        WHERE d.doc_id IN (SELECT doc_id FROM kept))
    SELECT c.doc_id, c.content_hash, b.top_term, b.top_tfidf
    FROM canonical c JOIN best b ON b.doc_id = c.doc_id
    WHERE c.doc_id = c.canon
    """,
)
def pipeline_corpus_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 curation flow in ONE composed plan, this time driven off the
    (doc, term) count relation: repetition gates (length bounds,
    distinct-token floor, top-token-share ceiling — the Gopher filters) →
    TF-IDF top keyword per surviving doc → exact-dedup canonicalization.
    The term-count aggregation is shared by the gate AND the keyword
    stages (computed once, reused twice in the DAG); shuffles: tc groupBy,
    df groupBy on term, the per-doc keyword window, and the content-hash
    window — each on its natural key."""
    d = load(spark, sf_dir, "documents")
    tc = term_counts(d)
    rep = tc.groupBy("doc_id").agg(
        F.sum("cnt").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.max("cnt").alias("top_cnt"),
    )
    kept = rep.filter(
        F.col("n_tokens").between(20, 1000)
        & (F.col("n_distinct") * 1.0 / F.col("n_tokens") >= 0.1)
        & (F.col("top_cnt") * 1.0 / F.col("n_tokens") <= 0.5)
    ).select("doc_id")
    df = tc.groupBy("tok").agg(F.count(F.lit(1)).alias("doc_freq"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tc.join(kept, "doc_id", "left_semi")
        .join(df, "tok")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            F.col("tok"),
            stable_round4(
                F.col("cnt")
                * F.log((F.col("n_docs") + 1.0) / (F.col("doc_freq") + 1.0))
            ).alias("tfidf"),
        )
    )
    wbest = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("tok"))
    best = (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("tok").alias("top_term"),
            F.col("tfidf").alias("top_tfidf"),
        )
    )
    canon = (
        d.join(kept, "doc_id", "left_semi")
        .select("doc_id", F.md5("text").alias("content_hash"))
        .withColumn(
            "canon", F.min("doc_id").over(W.partitionBy("content_hash"))
        )
    )
    return (
        canon.filter(F.col("doc_id") == F.col("canon"))
        .select("doc_id", "content_hash")
        .join(best, "doc_id")
    )


@register(
    "text_unigram_xent",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    corpus AS (
        SELECT tok, sum(cnt) AS ccount FROM tc GROUP BY tok),
    total AS (SELECT sum(ccount) AS ctotal FROM corpus),
    per_doc AS (
        SELECT tc.doc_id,
               sum(tc.cnt) AS n_tokens,
               sum(tc.cnt * ln(CAST(c.ccount AS DOUBLE) / t.ctotal))
                   AS ll
        FROM tc JOIN corpus c ON c.tok = tc.tok CROSS JOIN total t
        GROUP BY tc.doc_id)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           {sql_stable_round4('-ll / n_tokens')} AS cross_entropy
    FROM per_doc
    """,
)
def text_unigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram cross-entropy per document against the corpus language model
    (the perplexity-filtering signal of CCNet-style pipelines, with the
    corpus itself as the LM): H(d) = -Σ tf·ln(p(term)) / |d|. One more
    join over the shared (doc, term) relation — corpus probabilities are
    the vocab aggregate, the total is a broadcast scalar. The log-sum runs
    per doc-term pair then aggregates; exactness note: ln values are
    IEEE-identical across engines, and the sum order inside each doc group
    could differ — but each doc has ≤ vocabulary-size distinct terms whose
    sum is far below the 4-decimal rounding granularity's sensitivity
    (verified by the oracle hash)."""
    d = load(spark, sf_dir, "documents")
    tc = term_counts(d)
    corpus = tc.groupBy("tok").agg(F.sum("cnt").alias("ccount"))
    total = corpus.agg(F.sum("ccount").alias("ctotal"))
    per_doc = (
        tc.join(corpus, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(
                F.col("cnt")
                * F.log(F.col("ccount").cast("double") / F.col("ctotal"))
            ).alias("ll"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        stable_round4(-F.col("ll") / F.col("n_tokens")).alias("cross_entropy"),
    )


N_HASH_FEATURES = 16


@register(
    "text_feature_hash",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS})
    SELECT doc_id,
           CAST(('0x' || substr(md5(tok), 1, 8)) AS BIGINT)
               % {N_HASH_FEATURES} AS bucket,
           CAST(sum(cnt) AS BIGINT) AS n
    FROM tc GROUP BY 1, 2
    """,
)
def text_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature hashing (the hashing trick): token counts folded into
    {N_HASH_FEATURES} md5-bucketed dimensions — the fixed-width
    bag-of-words featurizer that needs no vocabulary broadcast, so the
    feature space never grows with the corpus. Long form (doc, bucket, n);
    pivot to a dense vector at the consumer if needed. Same md5-rational
    trick as the LSH hyperplanes keeps both engines identical."""
    tc = term_counts(load(spark, sf_dir, "documents"))
    bucket = hash_bucket(F.col("tok"), N_HASH_FEATURES)
    return tc.groupBy("doc_id", bucket.alias("bucket")).agg(
        F.sum("cnt").cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# Document chunking (the context-window step of an LLM ingest pipeline)
# ---------------------------------------------------------------------------

CHUNK_SIZE = 600   # characters per chunk
CHUNK_STEP = 400   # stride → 200-char overlap between adjacent chunks


@register(
    "text_chunk_windows",
    oracle=f"""
    SELECT doc_id, i AS chunk_idx,
           CAST(i * {CHUNK_STEP} + 1 AS BIGINT) AS chunk_start,
           CAST(length(substr(text, i * {CHUNK_STEP} + 1, {CHUNK_SIZE}))
                AS BIGINT) AS chunk_len,
           md5(substr(text, i * {CHUNK_STEP} + 1, {CHUNK_SIZE})) AS chunk_md5
    FROM documents, LATERAL unnest(
        generate_series(0, greatest(length(text) - 1, 0) // {CHUNK_STEP})
    ) u(i)
    """,
)
def text_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size character chunks per document — the unit an
    LLM ingest pipeline embeds/indexes (reference summarize path truncates
    to one window, summarize_bills_federal.py:23-65; chunking is its
    scale-out). {CHUNK_SIZE}-char windows every {CHUNK_STEP} chars, so
    consecutive chunks share {CHUNK_SIZE - CHUNK_STEP} chars of context;
    chunk ids are (doc_id, chunk_idx) — deterministic and re-derivable.

    Pure per-row array math: sequence + explode + substring, shuffle-free,
    and the chunk payload leaves the plan as md5 so the oracle compare
    stays cheap. Both engines substring by CHARACTER on the same UTF-8
    text, so hashes match bit-for-bit. A token-budgeted variant swaps the
    char window for the token positions of text_token_count."""
    d = load(spark, sf_dir, "documents")
    n_last = F.expr(f"greatest(length(text) - 1, 0) div {CHUNK_STEP}")
    chunk = F.expr(
        f"substr(text, chunk_idx * {CHUNK_STEP} + 1, {CHUNK_SIZE})"
    )
    return (
        d.select(
            "doc_id",
            "text",
            F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            (F.col("chunk_idx") * CHUNK_STEP + 1).cast("long").alias(
                "chunk_start"
            ),
            F.length(chunk).cast("long").alias("chunk_len"),
            F.md5(chunk).alias("chunk_md5"),
        )
    )


INGEST_MIN_CHARS = 200
INGEST_MAX_CHARS = 20000
INGEST_MIN_TOKENS = 30


@register(
    "pipeline_llm_ingest",
    oracle=f"""
    WITH gated AS (
        SELECT doc_id, text, lang
        FROM documents
        WHERE length(text) BETWEEN {INGEST_MIN_CHARS} AND {INGEST_MAX_CHARS}
          AND len(regexp_extract_all(lower(text), '[a-z0-9]+'))
              >= {INGEST_MIN_TOKENS}),
    canon AS (
        SELECT doc_id, text, lang,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM gated),
    kept AS (
        SELECT doc_id, text, lang FROM canon WHERE doc_id = canonical_id)
    SELECT doc_id, lang, i AS chunk_idx,
           md5(substr(text, i * {CHUNK_STEP} + 1, {CHUNK_SIZE})) AS chunk_md5,
           CAST(len(regexp_extract_all(
                lower(substr(text, i * {CHUNK_STEP} + 1, {CHUNK_SIZE})),
                '[a-z0-9]+')) AS BIGINT) AS n_chunk_tokens
    FROM kept, LATERAL unnest(
        generate_series(0, greatest(length(text) - 1, 0) // {CHUNK_STEP})
    ) u(i)
    """,
)
def pipeline_llm_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end LLM ingest as ONE declarative DAG — the composition a
    training-data run executes per corpus drop: quality gates (length +
    token floor, pushed to the scan) → exact dedup (canonical-id window,
    the single content-hash shuffle) → overlapping chunk windows with
    per-chunk token counts (per-row explode, no further shuffle). Chunks
    are what the embedding/indexing stage consumes; at 100 TB the same
    plan runs with the dedup window swapped for the MinHash pair join and
    the chunk payload written to the feature store instead of hashed.
    Catalyst fuses the gates into the parquet scan and the whole
    post-shuffle tail into one codegen stage."""
    d = load(spark, sf_dir, "documents")
    gated = d.filter(
        F.length("text").between(INGEST_MIN_CHARS, INGEST_MAX_CHARS)
        & (F.size(tokens(F.lower(F.col("text")))) >= INGEST_MIN_TOKENS)
    ).select("doc_id", "text", "lang")
    kept = (
        gated.withColumn(
            "__canon", F.min("doc_id").over(W.partitionBy(F.md5("text")))
        )
        .filter(F.col("doc_id") == F.col("__canon"))
        .drop("__canon")
    )
    n_last = F.expr(f"greatest(length(text) - 1, 0) div {CHUNK_STEP}")
    chunk = F.expr(f"substr(text, chunk_idx * {CHUNK_STEP} + 1, {CHUNK_SIZE})")
    return (
        kept.select(
            "doc_id",
            "lang",
            "text",
            F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "lang",
            "chunk_idx",
            F.md5(chunk).alias("chunk_md5"),
            F.size(tokens(F.lower(chunk))).cast("long").alias("n_chunk_tokens"),
        )
    )


TOKCHUNK_SIZE = 120   # tokens per chunk (the context-budget unit)
TOKCHUNK_STEP = 90    # stride → 30-token overlap


@register(
    "text_chunk_tokens",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
        FROM documents),
    idx AS (
        SELECT doc_id, t, i
        FROM toks, LATERAL unnest(
            generate_series(0, greatest(len(t) - 1, 0) // {TOKCHUNK_STEP})
        ) u(i))
    SELECT doc_id, i AS chunk_idx,
           CAST(len(t[i * {TOKCHUNK_STEP} + 1 :
                     i * {TOKCHUNK_STEP} + {TOKCHUNK_SIZE}]) AS BIGINT)
               AS n_tokens,
           md5(array_to_string(
               t[i * {TOKCHUNK_STEP} + 1 :
                 i * {TOKCHUNK_STEP} + {TOKCHUNK_SIZE}], ' ')) AS chunk_md5
    FROM idx
    """,
)
def text_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKEN-budgeted chunking — the variant an embedding model with a
    context limit actually needs (char windows over-/under-fill by up to
    the longest-word factor): {TOKCHUNK_SIZE}-token windows every
    {TOKCHUNK_STEP} tokens over the normalized token stream. Same
    shuffle-free explode shape as text_chunk_windows; the tokenizer runs
    once per doc (materialized token-array column, NOT re-lexed per chunk
    — the CLAUDE.md HOF-inlining trap applies to slices too)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("t"))
    n_last = F.expr(f"greatest(size(t) - 1, 0) div {TOKCHUNK_STEP}")
    sl = F.expr(
        f"slice(t, chunk_idx * {TOKCHUNK_STEP} + 1, {TOKCHUNK_SIZE})"
    )
    return (
        toks.select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0), n_last)).alias("chunk_idx"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            F.size(sl).cast("long").alias("n_tokens"),
            F.md5(F.array_join(sl, " ")).alias("chunk_md5"),
        )
    )


SENT_RE = "[^.!?]+[.!?]?"  # lookbehind-free: RE2 (DuckDB) has no lookbehind


@register(
    "text_sentence_split",
    oracle=f"""
    WITH sents AS (
        SELECT doc_id, regexp_extract_all(text, '{SENT_RE}') AS s
        FROM documents)
    SELECT doc_id, i - 1 AS sent_idx,
           md5(trim(s[i])) AS sentence_md5,
           CAST(length(trim(s[i])) AS BIGINT) AS n_sent_chars
    FROM sents, LATERAL unnest(generate_series(1, len(s))) u(i)
    """,
)
def text_sentence_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation — the unit for extractive summarization and
    sentence-level dedup (the llm_summarize kernel scores sentences;
    reference summarize_bills_federal.py's cleanup feeds sentence-shaped
    text). The boundary pattern is deliberately LOOKBEHIND-FREE
    ('{SENT_RE}': runs of non-terminators plus their terminator) because
    DuckDB's RE2 has no lookbehind — the usual (?<=[.!?])\\s+ split would
    be inexpressible as an oracle twin. Same shuffle-free posexplode shape
    as the chunkers; payload leaves as md5."""
    d = load(spark, sf_dir, "documents")
    sents = d.select(
        "doc_id",
        F.regexp_extract_all("text", F.lit(SENT_RE), 0).alias("s"),
    )
    return sents.select(
        "doc_id", F.posexplode("s").alias("sent_idx", "__sent")
    ).select(
        "doc_id",
        F.col("sent_idx").cast("long").alias("sent_idx"),
        F.md5(F.trim(F.col("__sent"))).alias("sentence_md5"),
        F.length(F.trim(F.col("__sent"))).cast("long").alias("n_sent_chars"),
    )


@register(
    "fn_udtf_sentences",
    oracle=f"""
    WITH sents AS (
        SELECT doc_id, regexp_extract_all(text, '{SENT_RE}') AS s
        FROM documents)
    SELECT doc_id, i - 1 AS sent_idx,
           md5(trim(s[i])) AS sentence_md5,
           CAST(length(trim(s[i])) AS BIGINT) AS n_sent_chars
    FROM sents, LATERAL unnest(generate_series(1, len(s))) u(i)
    """,
)
def fn_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python USER-DEFINED TABLE FUNCTION (Spark 4 §2.8 vehicle #6, after
    pandas_udf / mapInPandas / applyInPandas / applyInPandasWithState /
    cogrouped applyInPandas): one input row expands to N output rows inside
    a LATERAL join — the API shape for row-expanding python logic (parsers,
    taggers, per-record generators) that doesn't fit a scalar UDF. The
    kernel re-implements text_sentence_split's segmentation bit-for-bit
    (same lookbehind-free regex, md5 of the UTF-8 bytes), so the SAME
    oracle pins it and the native twin cross-checks in tests.

    Scale note: UDTFs are row-at-a-time python — the SLOW path, kept off
    hot pipelines deliberately (the native posexplode twin is the
    production op); this registration exists to cover the API surface with
    a correctness gate, the same policy as the applyInPandas demos."""
    import hashlib
    import re as _re

    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "doc_id bigint, sent_idx bigint, sentence_md5 string, "
        "n_sent_chars bigint"
    ))
    class SentenceSplit:
        def eval(self, doc_id, text):  # noqa: ANN001
            for i, s in enumerate(_re.findall(SENT_RE, text or "")):
                t = s.strip()
                yield (
                    doc_id,
                    i,
                    hashlib.md5(t.encode("utf-8")).hexdigest(),
                    len(t),
                )

    spark.udtf.register("sentence_split_udtf", SentenceSplit)
    load(spark, sf_dir, "documents").createOrReplaceTempView(
        "__udtf_docs__"
    )
    return spark.sql(
        """
        SELECT s.doc_id, s.sent_idx, s.sentence_md5, s.n_sent_chars
        FROM __udtf_docs__ d,
             LATERAL sentence_split_udtf(d.doc_id, d.text) s
        """
    )


# --- boilerplate-line removal (CCNet/RefinedWeb-style) --------------------

SEG_TOKENS = 12     # tokens per pseudo-line
BOILER_MIN_DOCS = 5  # a line in ≥ this many distinct docs is boilerplate


@register(
    "text_boilerplate_lines",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               regexp_extract_all(text, '{TOKEN_RE}') AS toks
        FROM documents),
    lines AS (
        SELECT doc_id, 0 AS pos,
               'copyright ' || source || ' all rights reserved' AS line
        FROM t
        UNION ALL
        SELECT doc_id, i AS pos,
               array_to_string(
                   toks[(i-1) * {SEG_TOKENS} + 1 : i * {SEG_TOKENS}], ' ')
        FROM t, unnest(generate_series(
            1, greatest((len(toks) + {SEG_TOKENS} - 1) // {SEG_TOKENS}, 1)
        )) u(i)),
    freq AS (
        SELECT line FROM lines
        GROUP BY line HAVING count(DISTINCT doc_id) >= {BOILER_MIN_DOCS}),
    flagged AS (
        SELECT l.doc_id, l.pos, l.line, f.line IS NOT NULL AS is_boiler
        FROM lines l LEFT JOIN freq f USING (line))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(count(*) FILTER (WHERE NOT is_boiler) AS BIGINT) AS n_kept,
           md5(coalesce(string_agg(
               CASE WHEN NOT is_boiler THEN line END, ' | ' ORDER BY pos),
               '')) AS cleaned_md5
    FROM flagged GROUP BY doc_id
    """,
)
def text_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-line removal, the CCNet/RefinedWeb web-crawl cleanup:
    any line occurring in ≥{BOILER_MIN_DOCS} distinct documents (nav bars,
    cookie banners, copyright footers) is dropped corpus-wide; each doc is
    re-assembled from its surviving lines in order. The fixture corpus has
    no line structure, so lines are SYNTHESIZED deterministically — a
    per-source copyright footer (which the op must detect: each occurs in
    every doc of its source) plus {SEG_TOKENS}-token content segments
    (which it must keep: they occur once). Scale shape: explode to lines →
    ONE count-distinct shuffle keyed on the line (the frequency table a
    100 TB crawl computes anyway) → the tiny frequent set broadcasts back
    → per-doc ordered re-assembly in one aggregate. Line frequency is the
    skewed key here (empty/short lines): the count-distinct pre-aggregates
    per (line, doc) before counting, so no single reducer sees a line's
    full row stream."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        tokens(F.col("text")).alias("__toks"),
        F.concat(F.lit("copyright "), F.col("source"), F.lit(" all rights reserved")).alias("__hdr"),
    )
    nseg = F.greatest(
        F.floor((F.size("__toks") + SEG_TOKENS - 1) / SEG_TOKENS), F.lit(1)
    ).cast("int")
    segs = F.transform(
        F.sequence(F.lit(1), nseg),
        lambda i: F.array_join(
            F.slice("__toks", (i - 1) * SEG_TOKENS + 1, SEG_TOKENS), " "
        ),
    )
    # two consumers (frequency count + flag join) and a Generate above a
    # non-cheap array expression → persist, or the inferred size()>0
    # filter re-evaluates the segment build below the projection (the
    # same InferFiltersFromGenerate trap as dedup_contamination_ngrams)
    lines = t.select(
        "doc_id",
        F.posexplode(F.concat(F.array("__hdr"), segs)).alias("pos", "line"),
    ).persist()
    freq = (
        lines.groupBy("line")
        .agg(F.count_distinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= BOILER_MIN_DOCS)
        .select("line", F.lit(True).alias("__boiler"))
    )
    flagged = lines.join(F.broadcast(freq), "line", "left").select(
        "doc_id", "pos", "line", F.coalesce("__boiler", F.lit(False)).alias("is_boiler")
    )
    kept_struct = F.when(
        ~F.col("is_boiler"), F.struct(F.col("pos"), F.col("line"))
    )
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count_if(~F.col("is_boiler")).cast("long").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.getField("line"),
                ),
                " | ",
            )
        ).alias("cleaned_md5"),
    )


BPE_TOP_PAIRS = 20


@register(
    "text_bpe_pair_counts",
    oracle=f"""
    WITH w AS (
        SELECT t AS word, count(*) AS freq
        FROM (SELECT unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS t
              FROM documents)
        GROUP BY 1),
    pairs AS (
        SELECT word[i : i + 1] AS pair, freq
        FROM w, unnest(generate_series(1, length(word) - 1)) u(i)
        WHERE length(word) > 1)
    SELECT pair, CAST(sum(freq) AS BIGINT) AS n_occurrences
    FROM pairs GROUP BY pair
    ORDER BY n_occurrences DESC, pair
    LIMIT {BPE_TOP_PAIRS}
    """,
)
def text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE-training iteration as a distributed job: adjacent
    symbol-pair frequencies over the corpus vocabulary, weighted by word
    frequency — the argmax pair is the first merge rule (Sennrich et al.
    2016, public paper). Tokenizer training at 100 TB IS this Spark job
    iterated: the vocabulary aggregate collapses the corpus to |vocab|
    rows FIRST (the crucial move — pair explosion runs over unique words,
    not over every token occurrence), then pairs explode ~word-length
    rows each and re-aggregate. Two shuffles total, both with map-side
    partial combine; the top-k executes as TakeOrdered, not a global
    sort. Full tie-break (count desc, pair asc) keeps the merge-rule
    choice engine-exact."""
    d = load(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") > 1)
    )
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.col("word").substr(i, F.lit(2)),
            )
        ).alias("pair"),
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair").asc())
        .limit(BPE_TOP_PAIRS)
    )


SQL_BIGRAM_COUNTS = f"""
        SELECT doc_id, b, count(*) AS cnt
        FROM (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS b
              FROM (SELECT doc_id,
                           regexp_extract_all(text, '{TOKEN_RE}') AS toks
                    FROM documents) t,
                   unnest(generate_series(1, greatest(len(toks) - 1, 0)))
                       AS u(i))
        GROUP BY doc_id, b"""


@register(
    "text_bigram_xent",
    oracle=f"""
    WITH dc AS ({SQL_BIGRAM_COUNTS}),
    corpus AS (SELECT b, sum(cnt) AS cb FROM dc GROUP BY b),
    pref AS (SELECT split_part(b, ' ', 1) AS w1, sum(cb) AS cw
             FROM corpus GROUP BY 1),
    per_doc AS (
        SELECT dc.doc_id,
               sum(dc.cnt) AS n_bigrams,
               sum(dc.cnt * ln(CAST(c.cb AS DOUBLE) / p.cw)) AS ll
        FROM dc JOIN corpus c ON dc.b = c.b
                JOIN pref p ON split_part(dc.b, ' ', 1) = p.w1
        GROUP BY dc.doc_id)
    SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
           {sql_stable_round4('-ll / n_bigrams')} AS bigram_xent
    FROM per_doc
    """,
)
def text_bigram_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM cross-entropy per document — the second-order companion to
    text_unigram_xent: H(d) = -Σ c_d(w1w2)·ln( c(w1w2) / c(w1·) ) / |d|,
    with the corpus itself as the MLE bigram model. A lower score means the
    document's word ORDER (not just its vocabulary) is typical of the
    corpus — the stronger fluency/perplexity signal.

    Bigrams keep multiplicity (unlike the distinct shingle sets the dedup
    family uses), built with the same guarded-sequence construction —
    Spark's sequence(1,0) counts DOWN, so sub-2-token docs short-circuit
    to an empty array. Scale shape: one (doc, bigram) aggregate feeding a
    SINGLE fused model pass — the prefix totals c(w1·) come from a window
    over the corpus aggregate (sum(cb) OVER (PARTITION BY w1)) instead of
    a second aggregate + join-back, halving the model-side job count
    (VERDICT r3: the query was floor-dominated at ~6 jobs) — then one
    join back to the (doc,bigram) subtree, tfidf's profile.
    Float note: the per-doc log-sum shares text_unigram_xent's documented
    rounding-margin rationale."""
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    bg = F.when(
        F.size(F.col("toks")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dc = (
        d.select("doc_id", t.alias("toks"))
        .select("doc_id", F.explode(bg).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    from pyspark.sql import Window as W

    model = (
        dc.groupBy("b")
        .agg(F.sum("cnt").alias("cb"))
        .withColumn(
            "cw",
            F.sum("cb").over(
                W.partitionBy(
                    F.split_part(F.col("b"), F.lit(" "), F.lit(1))
                )
            ),
        )
    )
    per_doc = (
        dc.join(model, "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_bigrams"),
            F.sum(
                F.col("cnt") * F.log(F.col("cb").cast("double") / F.col("cw"))
            ).alias("ll"),
        )
    )
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        stable_round4(-F.col("ll") / F.col("n_bigrams")).alias("bigram_xent"),
    )


BPE_N_MERGES = 3


def _merge_pair(symbols, a: str, b: str):
    """Apply merge rule (a,b)→ab to a symbol-array column with a single
    left-to-right fold (the sequential scan BPE specifies — adjacent
    repeats merge greedily, a freshly merged symbol never re-merges
    within the same rule pass)."""
    merged = F.lit(a + b)
    return F.aggregate(
        symbols,
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (x == F.lit(b)),
            F.concat(F.slice(acc, 1, F.size(acc) - 1), F.array(merged)),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def bpe_train(spark: SparkSession, sf_dir: str, n_merges: int = BPE_N_MERGES):
    """Distributed BPE training (Sennrich et al. 2016): the vocabulary
    aggregate collapses the corpus to (word, freq) FIRST, words become
    character-symbol arrays, then each round counts adjacent symbol pairs
    (weighted by word frequency), picks the argmax pair with a full
    (count desc, pair asc) tie-break, and applies the merge with a
    per-word fold. Returns (rules, final_symbols_df) where rules is the
    ordered merge-rule list [(pair_a, pair_b, count), ...].

    Scale notes: pair counting + argmax is one map-side-combined
    aggregate + a top-1 — the single scalar merge rule is collected to
    the driver and broadcast back INSIDE the next round's expressions
    (the same driver-scalar pattern as ml_kmeans_refine's codebook);
    the symbol table is localCheckpoint'ed per round so the fold chain
    never deepens the lineage. Corpus size only enters through the
    one-time vocabulary aggregate — rounds iterate over |vocab| rows."""
    d = load(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") > 1)
    )
    syms = w.select(
        F.transform(
            F.sequence(F.lit(1), F.length("word")),
            lambda i: F.col("word").substr(i, F.lit(1)),
        ).alias("symbols"),
        "freq",
    ).localCheckpoint(eager=True)
    rules: list[tuple[str, str, int]] = []
    for _ in range(n_merges):
        best = bpe_pair_argmax(syms).collect()
        if not best:
            break
        a, b, n = best[0]["p"]["a"], best[0]["p"]["b"], best[0]["n"]
        rules.append((a, b, int(n)))
        syms = bpe_merge_step(syms, a, b).localCheckpoint(eager=True)
    return rules, syms


def bpe_pair_argmax(syms: DataFrame) -> DataFrame:
    """ONE BPE round's argmax, pre-collect (round-10 audit-hook entry,
    VERDICT r9 #5): adjacent symbol pairs weighted by word frequency,
    top-1 with a full (count desc, pair asc) tie-break — a
    TakeOrderedAndProject, never a window."""
    pairs = syms.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("symbols"), 1, F.size("symbols") - 1),
                F.slice(F.col("symbols"), 2, F.size("symbols") - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
        "freq",
    )
    return (
        pairs.groupBy("p")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("p.a").asc(), F.col("p.b").asc())
        .limit(1)
    )


def bpe_merge_step(syms: DataFrame, a: str, b: str) -> DataFrame:
    """Apply one merge rule to the symbol table, pre-checkpoint."""
    return syms.select(
        _merge_pair(F.col("symbols"), a, b).alias("symbols"), "freq"
    )


@register(
    "text_bpe_encode1",
    oracle=f"""
    WITH w AS (
        SELECT t AS word, count(*) AS freq
        FROM (SELECT unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS t
              FROM documents)
        GROUP BY 1),
    best AS (
        SELECT word[i : i + 1] AS pair
        FROM w, unnest(generate_series(1, length(word) - 1)) u(i)
        WHERE length(word) > 1
        GROUP BY pair
        ORDER BY sum(freq) DESC, pair
        LIMIT 1),
    dw AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS word
        FROM documents),
    enc AS (
        SELECT doc_id,
               sum(CAST((length(word)
                         - length(replace(word, (SELECT pair FROM best), '')))
                        / 2 AS BIGINT)) AS n_merges,
               sum(length(word)) AS n_chars
        FROM dw GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(enc.n_chars - enc.n_merges, 0) AS BIGINT)
               AS n_bpe_tokens,
           CAST(coalesce(enc.n_merges, 0) AS BIGINT) AS n_merges
    FROM documents d LEFT JOIN enc USING (doc_id)
    """,
)
def text_bpe_encode1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODING with the corpus's own first trained merge rule — the
    oracle-checkable half of the tokenizer-application story (the 3-rule
    general form is text_bpe_encode below). The rule is the argmax adjacent
    char pair (count desc, pair asc tie-break — same as the trainer's round
    1), collected to the driver and folded back in as a literal, the
    driver-scalar pattern ml_kmeans_refine uses.

    The key identity that makes single-rule encoding SQL-expressible: for
    char symbols, greedy left-to-right merging of pair p in a word performs
    exactly count(non-overlapping occurrences of p) merges — both Spark's
    ``replace`` and DuckDB's scan leftmost-non-overlapping, and for the
    repeated-char case (rule aa on "aaaa") both yield floor(run/2), matching
    the fold. So n_bpe_tokens = n_chars - n_merges, no per-symbol fold
    needed. Tokenizer lineage: Sennrich et al. 2016 (subword-nmt applies
    merges with exactly this replace-per-pass); reference token counting at
    scripts/ai/summarize_bills_federal.py:23-65."""
    d = load(spark, sf_dir, "documents")
    w = (
        d.select(F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.length("word") > 1)
    )
    best = (
        w.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - 1),
                    lambda i: F.col("word").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "freq",
        )
        .groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(1)
        .collect()
    )
    pat = F.lit(best[0]["pair"])
    dw = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    enc = dw.groupBy("doc_id").agg(
        F.sum(
            ((F.length("word") - F.length(F.replace(F.col("word"), pat)))
             / F.lit(2)).cast("long")
        ).alias("n_merges"),
        F.sum(F.length("word")).alias("n_chars"),
    )
    return d.select("doc_id").join(enc, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("n_chars") - F.col("n_merges"), F.lit(0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.coalesce("n_merges", F.lit(0)).cast("long").alias("n_merges"),
    )


@register("text_bpe_encode")
def text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BPE encoding: train {BPE_N_MERGES} rules (bpe_train above),
    then tokenize every document with them. Rows-only for the same reason
    as the trainer (driver-iterative rule derivation); exact parity with a
    pure-python train+encode reference is pinned in tests/test_textops.py.

    Scale shape — the part that matters at 100 TB: merges are applied over
    the DISTINCT vocabulary (|vocab| rows, Zipf-small), not per token
    occurrence; documents then join the (word → n_subtokens) map broadcast,
    so the corpus-sized side does one explode + one broadcast join + one
    re-aggregate and never touches the fold. This is how production
    tokenizer counting runs (encode the vocab once, weight by term
    frequency)."""
    rules, _ = bpe_train(spark, sf_dir, BPE_N_MERGES)
    d = load(spark, sf_dir, "documents")
    dw = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    syms = F.transform(
        F.sequence(F.lit(1), F.length("word")),
        lambda i: F.col("word").substr(i, F.lit(1)),
    )
    for a, b, _n in rules:
        syms = _merge_pair(syms, a, b)
    vmap = dw.select("word").distinct().select(
        "word", F.size(syms).alias("n_sub")
    )
    enc = (
        dw.join(F.broadcast(vmap), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sub").alias("n_bpe_tokens"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
    return d.select("doc_id").join(enc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bpe_tokens", F.lit(0)).cast("long").alias("n_bpe_tokens"),
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
    )


@register("text_bpe_train")
def text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered form of the iterative BPE trainer: the first
    {BPE_N_MERGES} merge rules with their pre-merge occurrence counts.
    Rows-only: each round's argmax is a driver-broadcast scalar feeding
    the next round's expressions, which a single SQL statement cannot
    express; parity is pinned against a pure-python reference trainer in
    tests/test_textops.py."""
    rules, _ = bpe_train(spark, sf_dir, BPE_N_MERGES)
    return literal_frame(
        spark,
        [
            (i + 1, a, b, a + b, n)
            for i, (a, b, n) in enumerate(rules)
        ],
        "merge_rank INT, sym_a STRING, sym_b STRING, merged STRING, n_occurrences BIGINT",
    )


# --- tokenizer-exact token counting with a FIXED published vocab ---------
#
# The reference counts tokens with tiktoken's published cl100k vocab
# (/root/reference/scripts/ai/summarize_bills_federal.py:23-65) — a fixed
# merge table applied at encode time, never trained on the corpus at hand.
# text_bpe_train/encode above cover the TRAINING story; this op covers the
# reference's actual usage: load a fixture-shipped merge table
# (fixtures/bpe_merges_demo.txt, subword-nmt format — swap in any published
# merges.txt, e.g. GPT-2's, unchanged) and count exactly.
#
# Exactness argument (pinned by tests/test_textops.py): for a
# training-consistent merge table (every rule's symbols are single chars or
# products of strictly EARLIER rules — true of every published BPE vocab by
# construction), applying each rule as ONE leftmost-non-overlapping full
# pass in rank order is equivalent to the iterative lowest-rank-first
# algorithm tiktoken/GPT-2 use: a later rule can never create an earlier
# rule's pair, because that pair would have to reference the later rule's
# output symbol. Each pass is a plain string replace over a
# boundary-delimited symbol string (\\x1f sym \\x1e per symbol — delimiters
# make cross-symbol false matches impossible), and both Spark's and
# DuckDB's replace() are leftmost-non-overlapping, so the whole encode is
# engine-exact with no UDF.
BPE_DEMO_US = "\x1f"  # unit sep: starts every symbol
BPE_DEMO_RS = "\x1e"  # record sep: ends every symbol


def _bpe_demo_merges() -> tuple[tuple[str, str], ...]:
    from pathlib import Path

    p = Path(__file__).resolve().parents[1] / "fixtures" / "bpe_merges_demo.txt"
    return tuple(
        (w[0], w[1])
        for line in p.read_text().splitlines()
        if line and not line.startswith("#")
        for w in [line.split()]
    )


BPE_DEMO_MERGES = _bpe_demo_merges()

_BPE_DEMO_VALUES = ",".join(
    f"({i + 1},'{BPE_DEMO_US}{a}{BPE_DEMO_RS}{BPE_DEMO_US}{b}{BPE_DEMO_RS}',"
    f"'{BPE_DEMO_US}{a}{b}{BPE_DEMO_RS}')"
    for i, (a, b) in enumerate(BPE_DEMO_MERGES)
)


@register(
    "text_token_count_bpe",
    oracle=f"""
    WITH RECURSIVE m(rank, pat, rep) AS (VALUES {_BPE_DEMO_VALUES}),
    dw AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS word
        FROM documents),
    v AS (SELECT DISTINCT word FROM dw),
    enc AS (
        SELECT word,
               regexp_replace(word, '(.)', '{BPE_DEMO_US}\\1{BPE_DEMO_RS}',
                              'g') AS s,
               0 AS step
        FROM v
        UNION ALL
        SELECT e.word, replace(e.s, m.pat, m.rep), e.step + 1
        FROM enc e JOIN m ON m.rank = e.step + 1),
    vmap AS (
        SELECT word,
               CAST(length(s) - length(replace(s, '{BPE_DEMO_US}', ''))
                    AS BIGINT) AS n_sub
        FROM enc WHERE step = {len(BPE_DEMO_MERGES)}),
    agg AS (
        SELECT doc_id, sum(n_sub) AS n_bpe, count(*) AS n_words
        FROM dw JOIN vmap USING (word) GROUP BY doc_id)
    SELECT d.doc_id,
           CAST(coalesce(agg.n_bpe, 0) AS BIGINT) AS n_bpe_tokens,
           CAST(coalesce(agg.n_words, 0) AS BIGINT) AS n_words,
           CAST({sql_stable_round4(
               'CAST(agg.n_bpe AS DOUBLE) / agg.n_words'
           )} AS DOUBLE) AS fertility
    FROM documents d LEFT JOIN agg USING (doc_id)
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-EXACT per-document token counts under the fixture-shipped
    {n} -merge BPE vocab, plus the fertility row against the whitespace-ish
    TOKEN_RE word-count proxy (fertility = bpe tokens per word — the number
    the reference's tiktoken call would feed a context-budget check).

    Scale shape — identical to text_bpe_encode: the merge chain runs over
    the DISTINCT vocabulary (Zipf-small), never per token occurrence; the
    corpus-sized side is one explode + one broadcast join + one
    re-aggregate. The {n}-pass replace chain is a single codegen'd
    projection on the vocab relation; the oracle expresses the same chain
    as a rank-joined recursive CTE (DuckDB's binder caps nested calls at
    128, so the fold is data, not syntax).
    """
    d = load(spark, sf_dir, "documents")
    dw = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("word"))
    v = dw.select("word").distinct()
    s = F.regexp_replace(
        F.col("word"), "(.)", f"{BPE_DEMO_US}$1{BPE_DEMO_RS}"
    )
    for a, b in BPE_DEMO_MERGES:
        s = F.replace(
            s,
            F.lit(f"{BPE_DEMO_US}{a}{BPE_DEMO_RS}{BPE_DEMO_US}{b}{BPE_DEMO_RS}"),
            F.lit(f"{BPE_DEMO_US}{a}{b}{BPE_DEMO_RS}"),
        )
    vmap = v.select(
        "word",
        (F.length(s) - F.length(F.replace(s, F.lit(BPE_DEMO_US))))
        .cast("long")
        .alias("n_sub"),
    )
    agg = (
        dw.join(F.broadcast(vmap), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("n_sub").alias("n_bpe"),
            F.count(F.lit(1)).alias("n_words"),
        )
    )
    return d.select("doc_id").join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bpe", F.lit(0)).cast("long").alias("n_bpe_tokens"),
        F.coalesce("n_words", F.lit(0)).cast("long").alias("n_words"),
        stable_round4(
            F.col("n_bpe").cast("double") / F.col("n_words")
        ).alias("fertility"),
    )


text_token_count_bpe.__doc__ = text_token_count_bpe.__doc__.replace(
    "{n}", str(len(BPE_DEMO_MERGES))
)


MG_CAPACITY = 200  # Misra–Gries counter budget per partition


@register(
    "agg_heavy_hitters_exact",
    oracle=f"""
    WITH t AS (
        SELECT unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS word
        FROM documents),
    tot AS (SELECT count(*) AS n FROM t),
    c AS (SELECT word, count(*) AS cnt FROM t GROUP BY word)
    SELECT word, CAST(cnt AS BIGINT) AS n_occurrences
    FROM c, tot
    WHERE cnt * {MG_CAPACITY} > tot.n
    ORDER BY n_occurrences DESC, word
    """,
)
def agg_heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT corpus heavy hitters (every token with frequency > n/{MG_CAPACITY})
    via the sketch-then-verify pattern: phase 1 runs a Misra–Gries summary
    (capacity {MG_CAPACITY}) per partition over the raw token stream and
    emits only its surviving candidate set; phase 2 broadcast-SEMI-joins
    the token stream against the (tiny, deduped) candidates and exact-counts
    just those. MG theory makes phase 1 lossless for the contract: a word
    absent from every partition summary has per-partition count
    <= n_i/(cap+1), so globally <= n/(cap+1) < n/cap — no qualifying word
    can be missed, which is why the final output is EXACT and the plain
    GROUP-BY oracle agrees row-for-row.

    Why it matters at 100 TB: the naive plan shuffles the full distinct
    vocabulary; here the shuffle after the semi-join carries only candidate
    words (<= cap x partitions), and the MG pass itself is O(1) memory.
    The same candidates+verify shape backs the fuzzy/LSH dedup families
    (find cheap superset, verify exactly)."""
    from collections.abc import Iterator as _It

    import pandas as _pd

    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens(F.col("text"))).alias("word"))

    def mg_partition(batches: "_It[_pd.DataFrame]") -> "_It[_pd.DataFrame]":
        counters: dict[str, int] = {}
        for pdf in batches:
            for w in pdf["word"]:
                if w in counters:
                    counters[w] += 1
                elif len(counters) < MG_CAPACITY:
                    counters[w] = 1
                else:
                    dead = []
                    for k in counters:
                        counters[k] -= 1
                        if counters[k] == 0:
                            dead.append(k)
                    for k in dead:
                        del counters[k]
        yield _pd.DataFrame({"word": list(counters.keys())})

    cands = words.mapInPandas(mg_partition, schema="word string").distinct()
    total = words.agg(F.count(F.lit(1)).alias("n"))
    exact = (
        words.join(F.broadcast(cands), "word", "semi")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("n_occurrences"))
    )
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("n_occurrences") * MG_CAPACITY > F.col("n"))
        .select("word", "n_occurrences")
        .orderBy(F.col("n_occurrences").desc(), F.col("word"))
    )


CMS_DEPTH = 4    # independent hash rows
CMS_WIDTH = 128  # counters per row — small on purpose so collisions show


def _sql_cms_bucket(expr: str, j: int) -> str:
    return (
        f"CAST(('0x' || substr(md5({expr} || '#cms{j}'), 1, 8)) AS BIGINT)"
        f" % {CMS_WIDTH}"
    )


@register(
    "agg_count_min_sketch",
    oracle=f"""
    WITH t AS (
        SELECT unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS word
        FROM documents),
    cells AS (
        SELECT j, CASE j
                   WHEN 0 THEN {_sql_cms_bucket('word', 0)}
                   WHEN 1 THEN {_sql_cms_bucket('word', 1)}
                   WHEN 2 THEN {_sql_cms_bucket('word', 2)}
                   ELSE {_sql_cms_bucket('word', 3)}
                 END AS bucket,
               count(*) AS cnt
        FROM t, unnest(generate_series(0, {CMS_DEPTH - 1})) u(j)
        GROUP BY 1, 2),
    exact AS (SELECT word, count(*) AS exact_count FROM t GROUP BY word),
    top AS (
        SELECT word, exact_count,
               row_number() OVER (ORDER BY exact_count DESC, word) AS rn
        FROM exact),
    probes AS (
        SELECT word, exact_count, j,
               CASE j
                   WHEN 0 THEN {_sql_cms_bucket('word', 0)}
                   WHEN 1 THEN {_sql_cms_bucket('word', 1)}
                   WHEN 2 THEN {_sql_cms_bucket('word', 2)}
                   ELSE {_sql_cms_bucket('word', 3)}
               END AS bucket
        FROM top, unnest(generate_series(0, {CMS_DEPTH - 1})) u(j)
        WHERE rn <= 20)
    SELECT p.word, CAST(p.exact_count AS BIGINT) AS exact_count,
           CAST(min(c.cnt) AS BIGINT) AS cms_estimate,
           CAST(min(c.cnt) - p.exact_count AS BIGINT) AS overcount
    FROM probes p JOIN cells c ON p.j = c.j AND p.bucket = c.bucket
    GROUP BY p.word, p.exact_count
    ORDER BY exact_count DESC, word
    """,
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) built NATIVELY as a
    {CMS_DEPTH}x{CMS_WIDTH} additive cell relation: every token increments
    one md5-derived bucket per hash row, so the 'sketch' is a groupBy whose
    partial aggregation IS the classic per-partition sketch merge (cells
    are additive — the distributive-aggregate property in relational
    clothing, same reason the HLL rollup re-aggregates). Point estimates
    for the top-20 vocabulary words then take min over the word's
    {CMS_DEPTH} cells; the CMS one-sided bound (estimate >= exact, always)
    holds by construction in BOTH engines, and with width {CMS_WIDTH}
    deliberately small the overcount column actually exercises collisions
    rather than degenerating to zero.

    Everything is deterministic md5 arithmetic — no JVM sketch binaries to
    deserialize — so unlike sketch libraries the whole estimate surface is
    exactly oracle-checkable. At 100 TB the cell relation stays
    {CMS_DEPTH}x{CMS_WIDTH} rows regardless of corpus size; only the
    explode factor (x{CMS_DEPTH}) touches the stream, all map-side
    combined."""
    d = load(spark, sf_dir, "documents")
    words = d.select(F.explode(tokens(F.col("text"))).alias("word"))

    def bucket(word_col, j: int):
        return hash_bucket(F.concat(word_col, F.lit(f"#cms{j}")), CMS_WIDTH)

    j_col = F.explode(
        F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))
    ).alias("j")

    # The token stream is scanned ONCE, into the exact vocabulary counts;
    # the sketch cells then aggregate the (tiny, Zipf-compressed) vocab —
    # cell cnt = Σ exact_count over colliding words, identical arithmetic
    # to incrementing per occurrence (additivity), at vocab cost. The 10x
    # probe dropped from 13.9s to the re-aggregation floor after this.
    exact = words.groupBy("word").agg(F.count(F.lit(1)).alias("exact_count"))
    hashed = exact.select("word", "exact_count", j_col)
    bucketed = hashed.select(
        "j",
        "exact_count",
        F.when(F.col("j") == 0, bucket(F.col("word"), 0))
        .when(F.col("j") == 1, bucket(F.col("word"), 1))
        .when(F.col("j") == 2, bucket(F.col("word"), 2))
        .otherwise(bucket(F.col("word"), 3))
        .alias("bucket"),
    )
    cells = bucketed.groupBy("j", "bucket").agg(
        F.sum("exact_count").alias("cnt")
    )
    topw = W.orderBy(F.col("exact_count").desc(), F.col("word"))
    top = (
        exact.withColumn("rn", F.row_number().over(topw))
        .filter(F.col("rn") <= 20)
        .drop("rn")
    )
    probes = top.select(
        "word", "exact_count", j_col
    ).select(
        "word",
        "exact_count",
        "j",
        F.when(F.col("j") == 0, bucket(F.col("word"), 0))
        .when(F.col("j") == 1, bucket(F.col("word"), 1))
        .when(F.col("j") == 2, bucket(F.col("word"), 2))
        .otherwise(bucket(F.col("word"), 3))
        .alias("bucket"),
    )
    return (
        probes.join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("word", "exact_count")
        .agg(F.min("cnt").alias("est"))
        .select(
            "word",
            F.col("exact_count").cast("long").alias("exact_count"),
            F.col("est").cast("long").alias("cms_estimate"),
            (F.col("est") - F.col("exact_count")).cast("long").alias(
                "overcount"
            ),
        )
        .orderBy(F.col("exact_count").desc(), F.col("word"))
    )


RAKE_TOP = 25
RAKE_SCALE = 1_000_000  # per-word score quantization: floor(deg*1e6/freq)
_RAKE_SW = "(the|a|of|and|to|in)"


@register(
    "text_rake_keywords",
    oracle=f"""
    WITH padded AS (
        SELECT doc_id,
               ' ' || array_to_string(
                   regexp_extract_all(text, '{TOKEN_RE}'), '  ') || ' '
                   AS s
        FROM documents),
    barred AS (
        SELECT doc_id,
               regexp_replace(s, ' {_RAKE_SW} ', ' | ', 'g') AS s
        FROM padded),
    phr AS (
        SELECT doc_id,
               trim(regexp_replace(p, '  +', ' ', 'g')) AS phrase
        FROM barred, unnest(string_split(s, '|')) u(p)
        WHERE trim(p) <> ''),
    occ AS (SELECT phrase, count(*) AS n_occ FROM phr GROUP BY phrase),
    pw AS (
        SELECT phrase, w, len(string_split(phrase, ' ')) AS plen
        FROM phr, unnest(string_split(phrase, ' ')) u(w)),
    wstats AS (
        SELECT w, count(*) AS freq, sum(plen) AS deg FROM pw GROUP BY w),
    pwords AS (
        SELECT DISTINCT phrase, w FROM pw),
    scored AS (
        SELECT p.phrase,
               sum(CAST(floor(s.deg * {RAKE_SCALE}.0 / s.freq) AS BIGINT))
                   AS score_q
        FROM pwords p JOIN wstats s ON p.w = s.w
        GROUP BY p.phrase)
    SELECT s.phrase, CAST(o.n_occ AS BIGINT) AS n_occ,
           floor(s.score_q * 1.0 / {RAKE_SCALE} * 10000.0 + 0.5) / 10000.0
               AS rake_score
    FROM scored s JOIN occ o USING (phrase)
    ORDER BY rake_score DESC, s.phrase
    LIMIT {RAKE_TOP}
    """,
)
def text_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public): candidate
    phrases are maximal stopword-free token runs; each word scores
    degree/frequency over all phrase occurrences (degree = summed length
    of phrases containing it), and a phrase scores the sum of its words'
    scores — corpus top-{RAKE_TOP}. The phrase splitter is pure string
    algebra both engines share: double-space the token stream so every
    stopword occurrence owns its delimiters (left-to-right non-overlap
    replace would otherwise eat the boundary of an adjacent stopword),
    bar-replace, split, renormalize.

    Determinism: per-word scores are QUANTIZED to integers
    (floor(deg·1e6/freq)) before the per-phrase sum, so the sum is
    order-independent — summing rational doubles in shuffle order would
    not be. Ranking happens on the integer score with a full tie-break.
    Scale: two explode+aggregate passes over phrase tokens (Zipf-small
    distinct sets), one broadcast-size word-stats join."""
    d = load(spark, sf_dir, "documents")
    padded = F.concat(
        F.lit(" "),
        F.array_join(tokens(F.col("text")), "  "),
        F.lit(" "),
    )
    barred = F.regexp_replace(padded, f" {_RAKE_SW} ", " | ")
    phr = (
        d.select(F.explode(F.split(barred, "\\|")).alias("p"))
        .select(
            F.trim(F.regexp_replace(F.col("p"), "  +", " ")).alias("phrase")
        )
        .filter(F.col("phrase") != "")
    )
    occ = phr.groupBy("phrase").agg(F.count(F.lit(1)).alias("n_occ"))
    pw = phr.select(
        "phrase",
        F.explode(F.split(F.col("phrase"), " ")).alias("w"),
        F.size(F.split(F.col("phrase"), " ")).alias("plen"),
    )
    wstats = pw.groupBy("w").agg(
        F.count(F.lit(1)).alias("freq"), F.sum("plen").alias("deg")
    )
    pwords = pw.select("phrase", "w").distinct()
    scored = (
        pwords.join(wstats, "w")
        .groupBy("phrase")
        .agg(
            F.sum(
                F.floor(F.col("deg") * float(RAKE_SCALE) / F.col("freq"))
                .cast("long")
            ).alias("score_q")
        )
    )
    return (
        scored.join(occ, "phrase")
        .select(
            "phrase",
            F.col("n_occ").cast("long").alias("n_occ"),
            (
                F.floor(
                    F.col("score_q") * 1.0 / RAKE_SCALE * 10000.0 + 0.5
                )
                / 10000.0
            ).alias("rake_score"),
        )
        .orderBy(F.col("rake_score").desc(), F.col("phrase"))
        .limit(RAKE_TOP)
    )


@register(
    "text_perplexity_buckets",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    corpus AS (SELECT tok, sum(cnt) AS ccount FROM tc GROUP BY tok),
    total AS (SELECT sum(ccount) AS ctotal FROM corpus),
    per_doc AS (
        SELECT tc.doc_id,
               sum(tc.cnt) AS n_tokens,
               sum(tc.cnt * ln(CAST(c.ccount AS DOUBLE) / t.ctotal)) AS ll
        FROM tc JOIN corpus c ON c.tok = tc.tok CROSS JOIN total t
        GROUP BY tc.doc_id),
    scored AS (
        SELECT d.doc_id, d.lang,
               {sql_stable_round4('-p.ll / p.n_tokens')} AS cross_entropy
        FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id),
    tiled AS (
        SELECT doc_id, lang, cross_entropy,
               ntile(3) OVER (PARTITION BY lang
                              ORDER BY cross_entropy, doc_id) AS tile
        FROM scored)
    SELECT doc_id, lang, cross_entropy,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS ppl_bucket
    FROM tiled
    """,
)
def text_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020, public): score
    every document against the corpus unigram LM, then split EACH LANGUAGE
    into head/middle/tail terciles of cross-entropy — the standard
    quality-tier assignment before mixing decisions (keep head, subsample
    tail). Buckets are per-language because perplexity scales are not
    comparable across languages.

    Scale shape: the xent kernel is text_unigram_xent's (shared (doc,term)
    aggregate, broadcast scalar total); the tier assignment adds ONE window
    shuffle keyed on lang — each language's tercile split is independent,
    so the window parallelizes across languages (and within one giant
    language the rank could fall back to the quantile-cut form; at fixture
    cardinality ntile is exact and cheaper). Determinism: the window
    orders by the STABLE-ROUNDED score (hash-identical across engines,
    proven by text_unigram_xent) with doc_id tie-break, so tercile
    boundaries are engine-exact."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    tc = term_counts(d)
    corpus = tc.groupBy("tok").agg(F.sum("cnt").alias("ccount"))
    total = corpus.agg(F.sum("ccount").alias("ctotal"))
    per_doc = (
        tc.join(corpus, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(
                F.col("cnt")
                * F.log(F.col("ccount").cast("double") / F.col("ctotal"))
            ).alias("ll"),
        )
    )
    scored = per_doc.join(d.select("doc_id", "lang"), "doc_id").select(
        "doc_id",
        "lang",
        stable_round4(-F.col("ll") / F.col("n_tokens")).alias(
            "cross_entropy"
        ),
    )
    tile = F.ntile(3).over(
        W.partitionBy("lang").orderBy("cross_entropy", "doc_id")
    )
    return scored.select(
        "doc_id",
        "lang",
        "cross_entropy",
        F.when(tile == 1, "head")
        .when(tile == 2, "middle")
        .otherwise("tail")
        .alias("ppl_bucket"),
    )


def _sql_qc(expr: str) -> str:
    from .textstats import sql_qc_sum_w

    return sql_qc_sum_w(expr)


@register(
    "pipeline_corpus_curation_v3",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    corpus AS (SELECT tok, sum(cnt) AS ccount FROM tc GROUP BY tok),
    total AS (SELECT sum(ccount) AS ctotal FROM corpus),
    per_doc AS (
        SELECT tc.doc_id,
               sum(tc.cnt) AS n_tokens,
               sum(tc.cnt * ln(CAST(c.ccount AS DOUBLE) / t.ctotal)) AS ll
        FROM tc JOIN corpus c ON c.tok = tc.tok CROSS JOIN total t
        GROUP BY tc.doc_id),
    scored AS (
        SELECT d.doc_id, d.lang, d.text,
               {sql_stable_round4('-p.ll / p.n_tokens')} AS cross_entropy,
               {{qc}} AS sum_w
        FROM per_doc p JOIN documents d ON d.doc_id = p.doc_id),
    tiled AS (
        SELECT *, ntile(3) OVER (PARTITION BY lang
                                 ORDER BY cross_entropy, doc_id) AS tile
        FROM scored),
    kept AS (
        SELECT doc_id, lang, cross_entropy,
               CASE tile WHEN 1 THEN 'head' ELSE 'middle' END AS ppl_bucket,
               md5(text) AS content_hash
        FROM tiled WHERE tile <= 2 AND sum_w >= 0),
    canon AS (
        SELECT *, min(doc_id) OVER (PARTITION BY content_hash) AS c
        FROM kept)
    SELECT doc_id, lang, cross_entropy, ppl_bucket, content_hash
    FROM canon WHERE doc_id = c
    """.replace("{qc}", _sql_qc("d.text")),
)
def pipeline_corpus_curation_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-4 curation flow, composing this round's gates into ONE plan:
    corpus-LM perplexity terciles per language (keep head+middle, drop the
    tail third — the CCNet recipe) AND the hashed-feature classifier keep
    decision (integer logit >= 0) → exact-dedup canonicalization of the
    survivors. The (doc,term) relation is computed once and feeds both the
    LM model and the per-doc scores; the classifier is in-row arithmetic
    on the same scan that hashes the text for dedup. Shuffles: tc groupBy,
    corpus groupBy, the lang-keyed tercile window, the content-hash
    window — each on its natural key, nothing global but the scalar
    total."""
    from .textstats import qc_weight

    d = load(spark, sf_dir, "documents")
    tc = term_counts(d)
    # round-10: the classifier weight is a pure function of the TOKEN, so
    # evaluate it once per DISTINCT corpus token on the vocabulary frame
    # and let it ride the existing tc⋈corpus join — the per-doc logit is
    # then the exact integer Σ cnt·w(tok) inside the per_doc aggregate
    # that already exists. The old plan re-tokenized every document a
    # SECOND time (regexp_extract_all over full text) and folded one md5
    # per token OCCURRENCE through an interpreted HOF lambda; same
    # integer sum (commutative long arithmetic), oracle unchanged.
    corpus = tc.groupBy("tok").agg(F.sum("cnt").alias("ccount"))
    corpus_w = corpus.withColumn("w", qc_weight(F.col("tok")))
    total = corpus.agg(F.sum("ccount").alias("ctotal"))
    per_doc = (
        tc.join(corpus_w, "tok")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            F.sum(
                F.col("cnt")
                * F.log(F.col("ccount").cast("double") / F.col("ctotal"))
            ).alias("ll"),
            F.sum(F.col("cnt") * F.col("w")).cast("long").alias("sum_w"),
        )
    )
    # Round-11 (guide §2.3 "shuffle keys and metadata instead of
    # payloads"): hash the text AT THE SCAN and never carry the document
    # body again — the old plan shipped full text through the per_doc
    # join AND the lang-keyed tercile Exchange+Sort (plans/r11/..._before:
    # Exchange(37)/Sort(38)/Window(39) all carry text#69), only to md5 it
    # after the filter. md5-per-doc moves map-side (all docs instead of
    # the kept ~2/3 — a per-row hash vs a payload shuffle+sort), values
    # bit-identical, oracle unchanged. At 100 TB this also removes the
    # only fact-payload column from the one broadcast-infeasible join.
    scored = per_doc.join(
        d.select(
            "doc_id", "lang", F.md5("text").alias("content_hash")
        ),
        "doc_id",
    ).select(
        "doc_id",
        "lang",
        "content_hash",
        stable_round4(-F.col("ll") / F.col("n_tokens")).alias(
            "cross_entropy"
        ),
        "sum_w",
    )
    tile = F.ntile(3).over(
        W.partitionBy("lang").orderBy("cross_entropy", "doc_id")
    )
    kept = (
        scored.withColumn("tile", tile)
        .filter((F.col("tile") <= 2) & (F.col("sum_w") >= 0))
        .select(
            "doc_id",
            "lang",
            "cross_entropy",
            F.when(F.col("tile") == 1, "head")
            .otherwise("middle")
            .alias("ppl_bucket"),
            "content_hash",
        )
    )
    canon = kept.withColumn(
        "c", F.min("doc_id").over(W.partitionBy("content_hash"))
    )
    return canon.filter(F.col("doc_id") == F.col("c")).select(
        "doc_id", "lang", "cross_entropy", "ppl_bucket", "content_hash"
    )


@register(
    "corpus_report",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, source, md5(text) AS h,
               len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens
        FROM documents),
    per_lang AS (
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               count(DISTINCT source) AS n_sources,
               count(*) - count(DISTINCT h) AS n_exact_dups,
               CAST(min(n_tokens) AS BIGINT) AS min_tokens,
               CAST(max(n_tokens) AS BIGINT) AS max_tokens
        FROM t GROUP BY lang)
    SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, n_tokens,
           CAST(n_sources AS BIGINT) AS n_sources,
           CAST(n_exact_dups AS BIGINT) AS n_exact_dups,
           {sql_stable_round4('n_exact_dups * 1.0 / n_docs')} AS dup_rate,
           min_tokens, max_tokens,
           {sql_stable_round4('n_tokens * 1.0 / n_docs')} AS mean_tokens
    FROM per_lang
    """,
)
def corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DATASHEET — the per-language summary a dataset card
    publishes (Gebru et al., Datasheets for Datasets, public): document
    and token volumes, source diversity, exact-duplicate rate, token-
    length range. ONE aggregation pass over a single scan (the content
    hash, token count and groupBy key all come from the same projection);
    duplicate counting is n_docs − distinct hashes, no self-join. The
    report every curation round starts and ends with — run it before and
    after a pipeline_corpus_curation_* pass and diff."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        "source",
        F.md5("text").alias("h"),
        F.size(tokens(F.col("text"))).alias(
            "n_tokens"
        ),
    )
    g = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.countDistinct("source").alias("n_sources"),
        (F.count(F.lit(1)) - F.countDistinct("h")).alias("n_exact_dups"),
        F.min("n_tokens").cast("long").alias("min_tokens"),
        F.max("n_tokens").cast("long").alias("max_tokens"),
    )
    return g.select(
        "lang",
        F.col("n_docs").cast("long").alias("n_docs"),
        "n_tokens",
        F.col("n_sources").cast("long").alias("n_sources"),
        F.col("n_exact_dups").cast("long").alias("n_exact_dups"),
        stable_round4(
            F.col("n_exact_dups") * 1.0 / F.col("n_docs")
        ).alias("dup_rate"),
        "min_tokens",
        "max_tokens",
        stable_round4(F.col("n_tokens") * 1.0 / F.col("n_docs")).alias(
            "mean_tokens"
        ),
    )


# --- BM25 ranked retrieval -------------------------------------------------

BM25_QUERY = ("spark", "join", "dup")  # 'dup' is rare → high idf
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP = 20
_BM25_SCALE = 1_000_000_000  # per-term quantization (quantize-then-sum)


@register(
    "text_bm25_search",
    oracle=f"""
    WITH tc AS ({SQL_TERM_COUNTS}),
    dl AS (SELECT doc_id, sum(cnt) AS dl FROM tc GROUP BY doc_id),
    st AS (SELECT count(*) AS n_docs, sum(dl) AS total_dl FROM dl),
    qdf AS (
        SELECT tok, count(*) AS df FROM tc
        WHERE tok IN {BM25_QUERY} GROUP BY tok),
    m AS (
        SELECT tc.doc_id, tc.cnt, dl.dl, qdf.df, st.n_docs, st.total_dl
        FROM tc JOIN dl ON tc.doc_id = dl.doc_id
                JOIN qdf ON tc.tok = qdf.tok
                CROSS JOIN st),
    s AS (
        SELECT doc_id,
               CAST(floor(
                   ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                   * (cnt * {BM25_K1 + 1.0})
                   / (cnt + {BM25_K1} * (1 - {BM25_B}
                      + {BM25_B} * (dl::DOUBLE * n_docs / total_dl)))
                   * {_BM25_SCALE} + 0.5) AS BIGINT) AS sq
        FROM m),
    a AS (
        SELECT doc_id, count(*) AS n_terms, sum(sq) AS score_q
        FROM s GROUP BY doc_id)
    SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms_matched,
           CAST(score_q AS BIGINT) AS score_q,
           score_q / {float(_BM25_SCALE)} AS bm25
    FROM a ORDER BY score_q DESC, doc_id LIMIT {BM25_TOP}
    """,
)
def text_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson/Spärck Jones probabilistic idf,
    k1={BM25_K1} b={BM25_B}): score every document against the fixed query
    {BM25_QUERY} and return the top-{BM25_TOP} — the lexical leg of a RAG
    retriever next to pipeline_rag_query's dense leg. Reference seed: the
    best-match ranking idea behind vote_matching.py:160-168's extractOne,
    lifted to corpus retrieval.

    Determinism: each per-term score is a product of exactly-representable
    integers and one ln() — quantized to a {_BM25_SCALE}-scaled BIGINT
    BEFORE the per-doc sum (integer addition is order-independent; a
    3-term double sum is not), ranking on the integer total with doc_id
    tie-break. dl/avgdl is written `dl * n_docs / total_dl` on both
    engines so the float op order is identical.

    Scale shape: document lengths are one hash agg of
    it; the query-term df table and the 1-row corpus stats both broadcast
    (a query touches ~|Q| vocab rows, never the full df relation); the
    only shuffles are tc's (doc,term) collapse and the dl co-location
    join on doc_id. Top-k is TakeOrderedAndProject — no global sort, no
    single-partition window."""
    d = load(spark, sf_dir, "documents")
    tc = term_counts(d)
    # Document length = sum(cnt) over tc = size of the raw occurrence
    # array — a map-only projection of the documents scan (docs with no
    # tokens are absent from tc, hence the dl > 0 filter; NULL text gives
    # NULL size and is dropped by the same predicate). The old
    # groupBy(doc_id) tower over tc cost ~0.7 s per reference at sf0.1
    # and was executed TWICE (once under st, once under the m join);
    # the projection is ~0.2 s and shuffle-free.
    dl = (
        d.select(
            "doc_id",
            F.size(tokens(F.col("text"))).cast("long").alias("dl"),
        )
        .filter(F.col("dl") > 0)
    )
    st = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("total_dl")
    )
    qdf = (
        tc.filter(F.col("tok").isin(*BM25_QUERY))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    m = (
        tc.filter(F.col("tok").isin(*BM25_QUERY))
        .join(dl, "doc_id")
        .join(F.broadcast(qdf), "tok")
        .join(F.broadcast(st))
    )
    idf = F.log(
        1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_norm = (F.col("cnt") * (BM25_K1 + 1.0)) / (
        F.col("cnt")
        + BM25_K1
        * (
            1
            - BM25_B
            + BM25_B
            * (
                F.col("dl").cast("double")
                * F.col("n_docs")
                / F.col("total_dl")
            )
        )
    )
    sq = F.floor(idf * tf_norm * _BM25_SCALE + 0.5).cast("long")
    a = (
        m.select("doc_id", sq.alias("sq"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"), F.sum("sq").alias("score_q")
        )
    )
    return (
        a.select(
            "doc_id",
            F.col("n_terms").cast("long").alias("n_terms_matched"),
            F.col("score_q").cast("long").alias("score_q"),
            (F.col("score_q") / float(_BM25_SCALE)).alias("bm25"),
        )
        .orderBy(F.col("score_q").desc(), "doc_id")
        .limit(BM25_TOP)
    )


# --- DoReMi-style excess-loss mixture weights -------------------------------

_XENT_SCALE = 1_000_000


@register(
    "mix_excess_loss_weights",
    oracle=f"""
    WITH tc AS (
        SELECT source, tok, count(*) AS cnt
        FROM (SELECT source,
                     unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
              FROM documents)
        GROUP BY source, tok),
    corpus AS (SELECT tok, sum(cnt) AS ccount FROM tc GROUP BY tok),
    total AS (SELECT sum(ccount) AS ctotal FROM corpus),
    per_src AS (
        SELECT tc.source,
               sum(tc.cnt) AS n_tokens,
               sum(CAST(floor(tc.cnt
                       * ln(CAST(c.ccount AS DOUBLE) / t.ctotal)
                       * {_XENT_SCALE}) AS BIGINT)) AS llq
        FROM tc JOIN corpus c ON c.tok = tc.tok CROSS JOIN total t
        GROUP BY tc.source),
    base AS (
        SELECT sum(llq) AS cllq, sum(n_tokens) AS n_total FROM per_src),
    ex AS (
        SELECT source, n_tokens, llq, cllq, n_total,
               greatest(CAST(floor(
                   ((-llq * 1.0 / {_XENT_SCALE} / n_tokens)
                    - (-cllq * 1.0 / {_XENT_SCALE} / n_total))
                   * {_XENT_SCALE} + 0.5) AS BIGINT), 0) AS ex_q
        FROM per_src CROSS JOIN base),
    s AS (SELECT sum(ex_q) AS ex_sum FROM ex)
    SELECT source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           floor((-llq * 1.0 / {_XENT_SCALE} / n_tokens) * 10000.0 + 0.5)
               / 10000.0 AS xent,
           floor((-cllq * 1.0 / {_XENT_SCALE} / n_total) * 10000.0 + 0.5)
               / 10000.0 AS corpus_xent,
           floor(ex_q * 1.0 / {_XENT_SCALE} * 10000.0 + 0.5) / 10000.0
               AS excess,
           CASE WHEN s.ex_sum > 0
                THEN floor(ex_q * 1.0 / s.ex_sum * 10000.0 + 0.5) / 10000.0
                ELSE 0.0 END AS weight
    FROM ex CROSS JOIN s
    """,
)
def mix_excess_loss_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DoReMi-style domain reweighting signal (Xie 2023, simplified): each
    source's unigram cross-entropy under the corpus LM, its EXCESS over
    the corpus baseline, and the excess-proportional mixture weight —
    up-sample the domains the reference model finds hardest. Production
    swaps the unigram LM for proxy-model losses; the aggregation plan is
    unchanged. Completes the mixing family next to
    mix_temperature_weights (size-based) and mix_epoch_schedule.

    Determinism: per-(source,term) log terms are quantized to
    {_XENT_SCALE}-scaled BIGINTs before the per-source sum (sources span
    many partitions — a double sum would be shuffle-order-dependent),
    the baseline reuses those integer sums, excess is clamped in integer
    space, and the weight is an integer ratio. Scale shape: the
    (source, term) relation collapses map-side like term_counts; the
    corpus LM join shuffles on term; the per-source and baseline rollups
    are domain-bounded (|sources| rows)."""
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    corpus = tc.groupBy("tok").agg(F.sum("cnt").alias("ccount"))
    total = corpus.agg(F.sum("ccount").alias("ctotal"))
    per_src = (
        tc.join(corpus, "tok")
        .join(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.sum("cnt").alias("n_tokens"),
            # DECIMAL accumulator (round-10 overflow sweep): the
            # quantized log-likelihood runs ~ -15e6 * n_tokens, so a
            # LONG sum wraps at ~6e11 tokens per source while DuckDB's
            # HUGEINT twin stays exact. (The per-term floor itself is
            # LONG-bounded at cnt >~ 5.7e11 occurrences of ONE token in
            # ONE source — an order beyond the 1e13-token posture.)
            F.sum(
                F.floor(
                    F.col("cnt")
                    * F.log(
                        F.col("ccount").cast("double") / F.col("ctotal")
                    )
                    * _XENT_SCALE
                ).cast("decimal(38,0)")
            ).alias("llq"),
        )
    )
    base = per_src.agg(
        F.sum("llq").alias("cllq"), F.sum("n_tokens").alias("n_total")
    )
    src_xent = -F.col("llq") * 1.0 / _XENT_SCALE / F.col("n_tokens")
    cor_xent = -F.col("cllq") * 1.0 / _XENT_SCALE / F.col("n_total")
    ex = per_src.join(F.broadcast(base)).withColumn(
        "ex_q",
        F.greatest(
            F.floor((src_xent - cor_xent) * _XENT_SCALE + 0.5).cast("long"),
            F.lit(0),
        ),
    )
    s = ex.agg(F.sum("ex_q").alias("ex_sum"))
    return ex.join(F.broadcast(s)).select(
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        (F.floor(src_xent * 10000.0 + 0.5) / 10000.0).alias("xent"),
        (F.floor(cor_xent * 10000.0 + 0.5) / 10000.0).alias("corpus_xent"),
        (
            F.floor(F.col("ex_q") * 1.0 / _XENT_SCALE * 10000.0 + 0.5)
            / 10000.0
        ).alias("excess"),
        F.when(
            F.col("ex_sum") > 0,
            F.floor(F.col("ex_q") * 1.0 / F.col("ex_sum") * 10000.0 + 0.5)
            / 10000.0,
        )
        .otherwise(F.lit(0.0))
        .alias("weight"),
    )


# --------------------------------------------------------------------------
# text_pmi_pairs
# --------------------------------------------------------------------------

PMI_MIN_DF = 20    # a token must appear in >= this many docs to pair
PMI_MIN_CO = 10    # a pair must co-occur in >= this many docs
PMI_TOPK = 50
PMI_SCALE = 1_000_000.0

# shared quantized-PMI expression: one division of exact integers, one
# libm ln, midpoint-offset quantization (ADVICE r3 guard band).
# cxy*nd and cx*cy widen through DECIMAL(19,0) before the multiply
# (round-10 overflow sweep): document-frequency products at corpus
# scale (cx, cy up to |docs| ~ 1e10+ each) wrap LONG silently in Spark
# while the DuckDB twin ERRORS; the decimal product is exact in both
# and rounds to DOUBLE once, identical to the old form wherever it
# didn't wrap. The quantized value is a log ratio (|PMI| < ~50), so
# PMI_SCALE never ceilings.
_PMI_Q = (
    "CAST(floor(ln(CAST(CAST(cxy AS DECIMAL(19,0)) * nd AS DOUBLE)"
    " / CAST(CAST(cx AS DECIMAL(19,0)) * cy AS DOUBLE))"
    f" * {PMI_SCALE!r} + 0.5) AS BIGINT)"
)


@register(
    "text_pmi_pairs",
    oracle=f"""
    WITH dt AS (
        SELECT DISTINCT doc_id, tok
        FROM (SELECT doc_id,
                     unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
              FROM documents)),
    nd AS (SELECT count(DISTINCT doc_id) AS nd FROM dt),
    df AS (
        SELECT tok, count(*) AS c FROM dt GROUP BY 1
        HAVING count(*) >= {PMI_MIN_DF}),
    dtf AS (SELECT dt.doc_id, dt.tok FROM dt JOIN df ON df.tok = dt.tok),
    co AS (
        SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS cxy
        FROM dtf a JOIN dtf b ON a.doc_id = b.doc_id AND a.tok < b.tok
        GROUP BY 1, 2 HAVING count(*) >= {PMI_MIN_CO}),
    sc AS (
        SELECT co.tok_a, co.tok_b, co.cxy, da.c AS cx, db.c AS cy, nd.nd,
               {_PMI_Q} AS pmi_q
        FROM co JOIN df da ON da.tok = co.tok_a
                JOIN df db ON db.tok = co.tok_b
                CROSS JOIN nd),
    rk AS (
        SELECT *, row_number() OVER (
                   ORDER BY pmi_q DESC, cxy DESC, tok_a, tok_b) AS rk
        FROM sc)
    SELECT CAST(rk AS INT) AS rk, tok_a, tok_b,
           CAST(cxy AS BIGINT) AS n_co,
           CAST(cx AS BIGINT) AS df_a, CAST(cy AS BIGINT) AS df_b,
           floor(CAST(pmi_q AS DOUBLE) / {PMI_SCALE!r} * 10000.0 + 0.5)
               / 10000.0 AS pmi
    FROM rk WHERE rk <= {PMI_TOPK}
    ORDER BY rk
    """,
)
def text_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOPK} token pairs by pointwise mutual information over
    document co-occurrence: PMI(x,y) = ln(P(x,y) / (P(x)P(y))) with
    document-level probabilities — the collocation detector (Church &
    Hanks 1990) that complements tf-idf (which ranks tokens alone) and
    RAKE (contiguous phrases): PMI finds non-adjacent associations.

    Determinism: PMI's argument is ONE correctly-rounded division of
    exact integers (cxy * N / (cx * cy)); the single ln term is
    quantized with the midpoint offset before ranking, and the ranking
    tie-breaks through (pmi_q, cxy, tok_a, tok_b).

    Scale shape: the pair generation is a self-join on doc_id, so cost
    is sum over docs of (distinct qualifying tokens per doc)^2 —
    bounded by document length, linear in corpus size — NOT |vocab|^2.
    The df floor ({PMI_MIN_DF}) prunes the vocabulary tail BEFORE the
    self-join (a pair can't reach the {PMI_MIN_CO} co-occurrence floor
    if either member is rarer than that), and the (doc, tok) incidence
    is materialized once for its three consumers (df counts + both join
    sides) — the explode-reuse discipline from join_set_similarity.
    """
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    dt = (
        d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
        .distinct()
        .persist()
    )
    nd = dt.agg(F.countDistinct("doc_id").alias("nd"))
    df = (
        dt.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= PMI_MIN_DF)
    )
    dtf = dt.join(df.select("tok"), "tok").select("doc_id", "tok")
    a, b = dtf.alias("a"), dtf.alias("b")
    co = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.tok") < F.col("b.tok")),
        )
        .groupBy(
            F.col("a.tok").alias("tok_a"), F.col("b.tok").alias("tok_b")
        )
        .agg(F.count("*").alias("cxy"))
        .filter(F.col("cxy") >= PMI_MIN_CO)
    )
    sc = (
        co.join(
            df.withColumnRenamed("tok", "tok_a").withColumnRenamed("c", "cx"),
            "tok_a",
        )
        .join(
            df.withColumnRenamed("tok", "tok_b").withColumnRenamed("c", "cy"),
            "tok_b",
        )
        .crossJoin(F.broadcast(nd))
        .withColumn("pmi_q", F.expr(_PMI_Q))
    )
    rk = sc.withColumn(
        "rk",
        F.row_number().over(
            W.orderBy(
                F.col("pmi_q").desc(),
                F.col("cxy").desc(),
                "tok_a",
                "tok_b",
            )
        ),
    ).filter(F.col("rk") <= PMI_TOPK)
    return rk.select(
        F.col("rk").cast("int"),
        "tok_a",
        "tok_b",
        F.col("cxy").cast("long").alias("n_co"),
        F.col("cx").cast("long").alias("df_a"),
        F.col("cy").cast("long").alias("df_b"),
        (
            F.floor(
                F.col("pmi_q").cast("double") / PMI_SCALE * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("pmi"),
    ).orderBy("rk")


# ---------------------------------------------------------------------------
# text_keyphrase_textrank — TextRank keywords via quantized PageRank
# ---------------------------------------------------------------------------

TR_DF_MIN = 5      # word must appear in >= this many docs to enter the graph
TR_TOP = 30        # keywords reported
TR_SCALE = 1_000_000
TR_DAMP_NUM, TR_DAMP_DEN = 85, 100


@register(
    "text_keyphrase_textrank",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS t
        FROM documents),
    words AS (SELECT doc_id, unnest(t) AS w FROM toks),
    keep AS (SELECT w FROM words GROUP BY w
             HAVING count(DISTINCT doc_id) >= {TR_DF_MIN}),
    adj AS (
        SELECT t[i] AS w1, t[i + 1] AS w2
        FROM toks, unnest(generate_series(1, len(t) - 1)) AS u(i)
        WHERE len(t) >= 2),
    e0 AS (
        SELECT w1, w2, count(*) AS c
        FROM adj JOIN keep k1 ON k1.w = adj.w1
                 JOIN keep k2 ON k2.w = adj.w2
        GROUP BY 1, 2),
    ew AS (
        SELECT src, dst, sum(c) AS cw FROM (
            SELECT w1 AS src, w2 AS dst, c FROM e0
            UNION ALL SELECT w2, w1, c FROM e0)
        GROUP BY 1, 2),
    deg AS (SELECT src, sum(cw) AS wdeg FROM ew GROUP BY src),
    r0 AS (SELECT src AS node, CAST({TR_SCALE} AS BIGINT) AS r FROM deg),
    c1 AS (
        SELECT e.dst AS node, sum((r0.r * e.cw) // d.wdeg) AS contrib
        FROM ew e JOIN deg d ON d.src = e.src JOIN r0 ON r0.node = e.src
        GROUP BY 1),
    r1 AS (SELECT node, {TR_SCALE * 15 // 100}
                        + ({TR_DAMP_NUM} * contrib) // {TR_DAMP_DEN} AS r
           FROM c1),
    c2 AS (
        SELECT e.dst AS node, sum((r1.r * e.cw) // d.wdeg) AS contrib
        FROM ew e JOIN deg d ON d.src = e.src JOIN r1 ON r1.node = e.src
        GROUP BY 1),
    r2 AS (SELECT node, {TR_SCALE * 15 // 100}
                        + ({TR_DAMP_NUM} * contrib) // {TR_DAMP_DEN} AS r
           FROM c2)
    SELECT CAST(rk AS INT) AS rk, node AS keyword,
           CAST(r AS BIGINT) AS rank_scaled
    FROM (SELECT node, r, row_number() OVER (ORDER BY r DESC, node) AS rk
          FROM r2)
    WHERE rk <= {TR_TOP}
    ORDER BY rk
    """,
)
def text_keyphrase_textrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau, EMNLP 2004): build
    the word co-occurrence graph (adjacent-token edges, weighted by
    adjacency count, restricted to words appearing in ≥{TR_DF_MIN} docs)
    and rank words with two weighted-PageRank iterations — the
    graph-centrality counterpart of text_rake_keywords (degree-scoring)
    and text_tfidf_topterms (frequency-scoring); the three are the
    standard unsupervised keyword ladder.

    Exactness: the graph_pagerank integer discipline verbatim — ranks in
    millionths, per-edge contributions are floor-divided integers
    weighted by edge count over weighted degree, damping is the rational
    85/100 applied as integer multiply-then-floor-div; the oracle unrolls
    the identical two iterations as CTEs. Top-{TR_TOP} carries the full
    (rank DESC, word) tie-break.

    Scale shape: adjacency pairs come from a zero-shuffle array transform
    over each doc's token array (no positional self-join); the df floor
    prunes the graph BEFORE edge aggregation (the text_pmi_pairs lever);
    each PR iteration is one equi-join of the edge list against the
    current rank vector + a hash aggregate on the destination — the
    bucketed iteration shape shared with graph_pagerank/graph_hits. The
    edge+degree frames are persisted once for both iterations.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.col("text")).alias("t"))
    words = toks.select("doc_id", F.explode("t").alias("w"))
    keep = (
        words.groupBy("w")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= TR_DF_MIN)
        .select("w")
    )
    n = F.size("t")
    adj = toks.filter(n >= 2).select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.struct(
                    F.element_at(F.col("t"), i).alias("w1"),
                    F.element_at(F.col("t"), i + 1).alias("w2"),
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    e0 = (
        adj.join(F.broadcast(keep.select(F.col("w").alias("w1"))), "w1")
        .join(F.broadcast(keep.select(F.col("w").alias("w2"))), "w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ew = (
        e0.select(F.col("w1").alias("src"), F.col("w2").alias("dst"), "c")
        .unionAll(
            e0.select(F.col("w2").alias("src"), F.col("w1").alias("dst"), "c")
        )
        .groupBy("src", "dst")
        .agg(F.sum("c").alias("cw"))
        .persist()  # both PR iterations read the edge list
    )
    deg = ew.groupBy("src").agg(F.sum("cw").alias("wdeg")).persist()
    ranks = deg.select(
        F.col("src").alias("node"), F.lit(TR_SCALE).cast("long").alias("r")
    )
    for _ in range(2):
        contrib = (
            ew.join(deg, "src")
            .join(ranks.select(F.col("node").alias("src"), "r"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(
                F.sum(
                    F.expr("(r * cw) div wdeg")
                ).alias("contrib")
            )
        )
        ranks = contrib.select(
            "node",
            (
                F.lit(TR_SCALE * 15 // 100)
                + F.expr(f"({TR_DAMP_NUM} * contrib) div {TR_DAMP_DEN}")
            ).alias("r"),
        )
    w = W.orderBy(F.col("r").desc(), F.col("node"))
    return (
        ranks.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TR_TOP)
        .select(
            F.col("rk").cast("int").alias("rk"),
            F.col("node").alias("keyword"),
            F.col("r").cast("long").alias("rank_scaled"),
        )
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# text_kneser_ney_xent — interpolated Kneser-Ney bigram cross-entropy
# --------------------------------------------------------------------------

# Interpolated KN with absolute discount D = 3/4 (Kneser & Ney 1995;
# Chen & Goodman 1999 eq. 4.25):
#   P(w2|w1) = (c12 - D)/c1 + D*N1+(w1,.)/c1 * N1+(.,w2)/B
# Clearing D = 3/4 makes numerator and denominator EXACT integers:
#   P = ((4*c12 - 3)*B + 3*n1w1*n1w2) / (4*c1*B)
# (c12 >= 1 > D for every bigram the doc actually contains, so the
# max(.,0) clip never fires and the formula is total.)
_KN_P = (
    "(CAST((4 * cb - 3) * bb + 3 * n1w1 * n1w2 AS DOUBLE)"
    " / CAST(4 * cw1 * bb AS DOUBLE))"
)


@register(
    "text_kneser_ney_xent",
    oracle=f"""
    WITH dc AS ({SQL_BIGRAM_COUNTS}),
    corpus AS (
        SELECT b, split_part(b, ' ', 1) AS w1, split_part(b, ' ', 2) AS w2,
               CAST(sum(cnt) AS BIGINT) AS cb
        FROM dc GROUP BY 1, 2, 3),
    model AS (
        SELECT b, cb,
               sum(cb) OVER (PARTITION BY w1) AS cw1,
               count(*) OVER (PARTITION BY w1) AS n1w1,
               count(*) OVER (PARTITION BY w2) AS n1w2
        FROM corpus),
    bt AS (SELECT CAST(count(*) AS BIGINT) AS bb FROM corpus),
    per_doc AS (
        SELECT dc.doc_id,
               CAST(sum(dc.cnt) AS BIGINT) AS n_bigrams,
               sum(dc.cnt * ln({_KN_P})) AS ll
        FROM dc JOIN model m ON dc.b = m.b CROSS JOIN bt
        GROUP BY dc.doc_id)
    SELECT doc_id, n_bigrams,
           {sql_stable_round4('(-ll / n_bigrams)')} AS kn_xent
    FROM per_doc
    """,
)
def text_kneser_ney_xent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram cross-entropy per document — the
    production LM-smoothing counterpart of text_bigram_xent's raw MLE:
    KN discounts every observed bigram by D = 3/4 and backs the freed
    mass off to the CONTINUATION unigram (how many distinct contexts a
    word follows), the smoothing that made n-gram perplexity filters
    (CCNet et al.) work on open-vocabulary web text.

    Exactness: clearing D = 3/4 turns each probability into a ratio of
    exact integers, ((4c12-3)B + 3*N1+(w1,.)*N1+(.,w2)) / (4*c1*B) —
    both sides evaluate ln on the SAME correctly-rounded double ratio.
    The per-doc log-sum shares text_unigram_xent's documented
    rounding-margin rationale; stable_round4 on the reported entropy.

    Scale shape: the (doc, bigram) aggregate is persisted once; ALL
    model statistics (prefix mass, distinct-successor and continuation
    counts) come from two windows over the corpus-level aggregate —
    never a fact-table re-scan — and the distinct-bigram total is a
    1-row broadcast. One join back to the persisted subtree, tfidf's
    profile (the fused-model lesson from VERDICT r3 item 7 applied from
    the start).
    """
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    bg = F.when(
        F.size(F.col("toks")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dc = (
        d.select("doc_id", t.alias("toks"))
        .select("doc_id", F.explode(bg).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()  # corpus model + per-doc join both read it
    )
    from pyspark.sql import Window as W

    corpus = dc.groupBy(
        "b",
        F.split_part(F.col("b"), F.lit(" "), F.lit(1)).alias("w1"),
        F.split_part(F.col("b"), F.lit(" "), F.lit(2)).alias("w2"),
    ).agg(F.sum("cnt").cast("long").alias("cb"))
    model = corpus.select(
        "b",
        "cb",
        F.sum("cb").over(W.partitionBy("w1")).alias("cw1"),
        F.count("*").over(W.partitionBy("w1")).alias("n1w1"),
        F.count("*").over(W.partitionBy("w2")).alias("n1w2"),
    )
    bt = corpus.agg(F.count("*").cast("long").alias("bb"))
    per_doc = (
        dc.join(model, "b")
        .crossJoin(F.broadcast(bt))
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.expr(f"ln({_KN_P})")).alias("ll"),
        )
    )
    return per_doc.selectExpr(
        "doc_id",
        "n_bigrams",
        f"CAST({sql_stable_round4('(-ll / n_bigrams)')} AS DOUBLE)"
        " AS kn_xent",
    )


# --------------------------------------------------------------------------
# text_watermark_score — greenlist watermark detection (z per document)
# --------------------------------------------------------------------------

# Kirchenbauer et al. 2023 (ICML): a watermarking LLM promotes a "green"
# half of the vocabulary, re-seeded from the previous token; detection
# counts green tokens and z-tests against the 1/2 null. Greenlist
# membership here is the md5 parity of the (prev, token) pair — the same
# deterministic stand-in for the seeded-RNG split that the sampling ops
# use for rand() (the detector's arithmetic is what matters, and it is
# EXACT: z = (2g - n)/sqrt(n) over integer counts).
WATERMARK_Z_FLAG = 4  # flag a doc when z >= 4 (~3e-5 false positive)


@register(
    "text_watermark_score",
    oracle=f"""
    WITH dc AS ({SQL_BIGRAM_COUNTS}),
    g AS (
        SELECT doc_id, cnt,
               CASE WHEN CAST(('0x' || substr(md5('wm-' || b), 1, 8))
                         AS BIGINT) % 2 = 0 THEN cnt ELSE 0 END AS green
        FROM dc),
    s AS (
        SELECT doc_id,
               CAST(sum(cnt) AS BIGINT) AS n_scored,
               CAST(sum(green) AS BIGINT) AS n_green
        FROM g GROUP BY doc_id)
    SELECT doc_id, n_scored, n_green,
           {sql_stable_round4(
               '((2.0 * n_green - n_scored) / sqrt(CAST(n_scored AS DOUBLE)))'
           )} AS green_z,
           2 * n_green > n_scored
               AND (2 * n_green - n_scored) * (2 * n_green - n_scored)
                   >= {WATERMARK_Z_FLAG * WATERMARK_Z_FLAG} * n_scored
               AS watermark_flag
    FROM s
    """,
)
def text_watermark_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greenlist watermark detector (Kirchenbauer et al., ICML 2023 —
    public paper): per document, the fraction of tokens falling in the
    previous-token-seeded "green" half of the vocabulary, z-tested
    against the unwatermarked null of 1/2 — the provenance screen a
    training-data pipeline runs to keep (or trace) LLM-generated text.
    A clean corpus hovers near z = 0; machine text from a watermarking
    sampler lights up at z >> 4.

    Determinism: greenlist membership is the md5 parity of the salted
    (prev, token) pair — engine-exact, replayable; counts are integers;
    the flag is the INTEGER cross-multiplication (2g-n)^2 >= 16n (never
    a float compare), and the reported z is one sqrt of an exact double,
    stable_round4.

    Scale shape: one (doc, bigram) aggregate (shared construction with
    the xent family), one per-doc sum — a single fact shuffle, no
    model side at all.
    """
    d = load(spark, sf_dir, "documents")
    t = tokens(F.col("text"))
    bg = F.when(
        F.size(F.col("toks")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("toks")) - 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("toks"), i),
                F.element_at(F.col("toks"), i + 1),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    dc = (
        d.select("doc_id", t.alias("toks"))
        .select("doc_id", F.explode(bg).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    green_hash = spark_sql_md5_long("'wm-' || b")
    green = F.when(
        F.expr(f"pmod({green_hash}, 2) = 0"),
        F.col("cnt"),
    ).otherwise(F.lit(0))
    s = dc.select("doc_id", "cnt", green.alias("green")).groupBy(
        "doc_id"
    ).agg(
        F.sum("cnt").cast("long").alias("n_scored"),
        F.sum("green").cast("long").alias("n_green"),
    )
    zexpr = "((2.0 * n_green - n_scored) / sqrt(CAST(n_scored AS DOUBLE)))"
    return s.selectExpr(
        "doc_id",
        "n_scored",
        "n_green",
        f"CAST({sql_stable_round4(zexpr)} AS DOUBLE) AS green_z",
        "2 * n_green > n_scored"
        " AND (2 * n_green - n_scored) * (2 * n_green - n_scored)"
        f" >= {WATERMARK_Z_FLAG * WATERMARK_Z_FLAG} * n_scored"
        " AS watermark_flag",
    )


# --------------------------------------------------------------------------
# text_source_overlap_matrix — pairwise source-level shingle containment
# --------------------------------------------------------------------------


@register(
    "text_source_overlap_matrix",
    oracle=f"""
    WITH sg AS (
        SELECT DISTINCT source, unnest({SQL_SHINGLES}) AS g
        FROM documents),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY 1),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               CAST(count(*) AS BIGINT) AS n_shared
        FROM sg a JOIN sg b ON a.g = b.g AND a.source <> b.source
        GROUP BY 1, 2)
    SELECT i.src_a, i.src_b, i.n_shared,
           za.n AS n_grams_a,
           {sql_stable_round4('(CAST(i.n_shared AS DOUBLE) / za.n)')}
               AS containment_a_in_b
    FROM inter i JOIN sz za ON za.source = i.src_a
    ORDER BY src_a, src_b
    """,
)
def text_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise SOURCE-level 3-gram containment matrix: for every ordered
    source pair, the fraction of source A's distinct shingles that also
    appear in source B — the corpus-provenance view that tells a
    curation pipeline which feeds are mirroring each other (the
    source-granular rollup of dedup_contamination_ngrams' doc-level
    audit; a row near 1.0 means feed A is a subset/scrape of feed B and
    one of them should be dropped before training).

    Determinism: distinct (source, gram) sets are exact; counts are
    integers; one division per pair, stable_round4; output ordered by
    the pair key.

    Scale shape: the gram-keyed equi-join is the contamination-audit
    shape — shuffle carries distinct (source, gram) pairs, never the
    token stream, and the result is |sources|^2 rows regardless of
    corpus size. A skewed universal gram inflates one join key; the
    same df-cap lever dedup_contamination_ngrams documents applies if a
    real corpus needs it.
    """
    d = load(spark, sf_dir, "documents")
    sg = (
        d.select("source", tokens(F.col("text")).alias("t"))
        .select("source", F.explode(shingles_from_tokens(F.col("t"))).alias("g"))
        .distinct()
        .persist()  # sizes + self-join both read it
    )
    sz = sg.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = sg.select(F.col("source").alias("src_a"), "g")
    b = sg.select(F.col("source").alias("src_b"), "g")
    inter = (
        a.join(b, "g")
        .filter(F.col("src_a") != F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").cast("long").alias("n_shared"))
    )
    return (
        inter.join(
            F.broadcast(sz.withColumnRenamed("source", "src_a")), "src_a"
        )
        .selectExpr(
            "src_a",
            "src_b",
            "n_shared",
            "n AS n_grams_a",
            f"CAST({sql_stable_round4('(CAST(n_shared AS DOUBLE) / n)')}"
            " AS DOUBLE) AS containment_a_in_b",
        )
        .orderBy("src_a", "src_b")
    )


# --- sentence-level boilerplate dedup audit (FineWeb-style line dedup) ------

BOILER_MIN_DF = 3  # a sentence seen in >= this many docs is boilerplate


@register(
    "dedup_boilerplate_sentences",
    oracle=f"""
    WITH sents AS (
        SELECT doc_id, md5(trim(s[i])) AS sh
        FROM (SELECT doc_id, regexp_extract_all(text, '{SENT_RE}') AS s
              FROM documents),
             LATERAL unnest(generate_series(1, len(s))) u(i)
        WHERE length(trim(s[i])) > 0),
    ds AS (SELECT DISTINCT doc_id, sh FROM sents),
    df AS (SELECT sh, count(*) AS n_docs_with FROM ds GROUP BY 1),
    per_doc AS (
        SELECT sents.doc_id,
               CAST(count(*) AS BIGINT) AS n_sents,
               CAST(sum(CASE WHEN df.n_docs_with >= {BOILER_MIN_DF}
                             THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_boiler_sents
        FROM sents JOIN df USING (sh)
        GROUP BY 1)
    SELECT doc_id, n_sents, n_boiler_sents,
           {{r4}} AS boiler_frac
    FROM per_doc
    """.replace(
        "{r4}",
        "floor(n_boiler_sents * 1.0 / n_sents * 10000.0 + 0.5) / 10000.0",
    ),
)
def dedup_boilerplate_sentences(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """SENTENCE-level dedup audit — the sub-document granularity the
    web-corpus pipelines dedup at (repeated nav/footer lines survive
    document-level MinHash because the surrounding text differs): every
    sentence hashing identically in >= {BOILER_MIN_DF} distinct docs is
    boilerplate, and each doc reports its boilerplate-sentence fraction —
    the removal mask a curation pass applies before token counting.

    Scale shape: one sentence explode (shuffle-free), one distinct
    (doc, sentence-hash) projection feeding the document-frequency
    aggregate (map-side combined, Zipf-compressed keys), one hash-keyed
    join back to the sentence instances, one per-doc rollup. Payload
    never crosses an operator boundary — sentences travel as md5."""
    d = load(spark, sf_dir, "documents")
    sents = (
        d.select(
            "doc_id",
            F.explode(
                F.regexp_extract_all("text", F.lit(SENT_RE), 0)
            ).alias("__s"),
        )
        .select("doc_id", F.md5(F.trim("__s")).alias("sh"),
                F.length(F.trim("__s")).alias("__len"))
        .filter(F.col("__len") > 0)
        .drop("__len")
    )
    df_ = (
        sents.select("doc_id", "sh")
        .distinct()
        .groupBy("sh")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
    )
    per_doc = (
        sents.join(df_, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_sents"),
            F.sum(
                F.when(
                    F.col("n_docs_with") >= BOILER_MIN_DF, 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_boiler_sents"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_sents",
        "n_boiler_sents",
        (
            F.floor(
                F.col("n_boiler_sents") * 1.0 / F.col("n_sents") * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("boiler_frac"),
    )


# --- per-doc n-gram novelty curve -------------------------------------------


@register(
    "text_ngram_novelty",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT doc_id,
               t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
        FROM (SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t
              FROM documents),
             LATERAL unnest(generate_series(1, greatest(len(t) - 2, 0)))
                 u(i)),
    first_ AS (SELECT g, min(doc_id) AS fdoc FROM sh GROUP BY 1),
    per_doc AS (
        SELECT sh.doc_id,
               CAST(count(*) AS BIGINT) AS n_shingles,
               CAST(sum(CASE WHEN f.fdoc = sh.doc_id THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_novel
        FROM sh JOIN first_ f USING (g)
        GROUP BY 1)
    SELECT doc_id, n_shingles, n_novel,
           floor(n_novel * 1.0 / n_shingles * 10000.0 + 0.5) / 10000.0
               AS novelty
    FROM per_doc
    """,
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY along the deterministic doc_id reading
    order: the fraction of a doc's distinct 3-word shingles whose FIRST
    corpus occurrence is in this doc — the per-doc derivative of the
    Heaps vocabulary-growth curve, and the curation signal for "is the
    tail of this crawl still contributing new content or just recombining
    old grams" (novelty collapsing toward 0 = the corpus is saturating).

    Scale shape: one shingle explode to DISTINCT (doc, gram) pairs, one
    min-doc aggregate over grams (map-side combined), one gram-keyed join
    back, one per-doc rollup — the exact heaps-fit machinery re-keyed to
    emit per-doc rows instead of the fitted exponent."""
    from .dedup import shingles_from_tokens, tokens

    d = load(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", tokens(F.col("text")).alias("t"))
        .select("doc_id", F.explode(shingles_from_tokens(F.col("t"))).alias("g"))
        .distinct()
    )
    first_ = sh.groupBy("g").agg(F.min("doc_id").alias("fdoc"))
    per_doc = (
        sh.join(first_, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shingles"),
            F.sum(
                F.when(F.col("fdoc") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        (
            F.floor(
                F.col("n_novel") * 1.0 / F.col("n_shingles") * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("novelty"),
    )


# --- corpus PII audit rollup -------------------------------------------------

IPV4_RE = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
SSN_RE = "[0-9]{3}-[0-9]{2}-[0-9]{4}"


@register(
    "dq_pii_report",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_toks,
               text
               || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com'
               || CASE WHEN doc_id % 3 = 0
                       THEN ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
                            || '.0.' || CAST(doc_id % 100 AS VARCHAR)
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' ssn ' || CAST(doc_id % 900 + 100 AS VARCHAR)
                            || '-55-' || lpad(CAST(doc_id % 10000
                                                   AS VARCHAR), 4, '0')
                       ELSE '' END AS raw
        FROM documents),
    per_doc AS (
        SELECT source, n_toks,
               len(regexp_extract_all(raw, '{EMAIL_RE}')) AS e,
               len(regexp_extract_all(raw, '{IPV4_RE}')) AS ip,
               len(regexp_extract_all(raw, '{SSN_RE}')) AS ssn
        FROM s)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_toks) AS BIGINT) AS n_tokens,
           CAST(sum(e) AS BIGINT) AS n_emails,
           CAST(sum(ip) AS BIGINT) AS n_ipv4,
           CAST(sum(ssn) AS BIGINT) AS n_ssn_like,
           CAST(sum(CASE WHEN e + ip + ssn > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_with_pii,
           floor(sum(e + ip + ssn) * 10000.0
                 / nullif(sum(n_toks), 0) * 10000.0 + 0.5) / 10000.0
               AS pii_per_10k_tokens
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def dq_pii_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level PII AUDIT — the per-source rollup a curation run
    publishes before release (which feeds leak emails / IPs / SSN-shaped
    ids, at what density): per source, match counts for three pattern
    families, affected-doc counts, and PII hits per 10k tokens. Like
    text_pii_redact, deterministic fake PII derived from doc_id is
    appended to the synthetic fixture text so the patterns have real
    matches on both engines (emails on every doc, an IPv4 on every 3rd,
    an SSN-shaped id on every 5th).

    Scale shape: single scan, regexp counts map-side, one
    |sources|-row aggregate — the audit costs one pass regardless of
    corpus size."""
    d = load(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact u"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.lit(" from 10."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".0."),
                (F.col("doc_id") % 100).cast("string"),
            ),
        ).otherwise(""),
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.lit(" ssn "),
                (F.col("doc_id") % 900 + 100).cast("string"),
                F.lit("-55-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(""),
    )
    per_doc = d.select(
        "source",
        F.size(tokens(F.col("text"))).alias("n_toks"),
        F.regexp_count(raw, F.lit(EMAIL_RE)).alias("e"),
        F.regexp_count(raw, F.lit(IPV4_RE)).alias("ip"),
        F.regexp_count(raw, F.lit(SSN_RE)).alias("ssn"),
    )
    hits = F.col("e") + F.col("ip") + F.col("ssn")
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("n_tokens"),
            F.sum("e").cast("long").alias("n_emails"),
            F.sum("ip").cast("long").alias("n_ipv4"),
            F.sum("ssn").cast("long").alias("n_ssn_like"),
            F.sum(F.when(hits > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_with_pii"),
            (
                F.floor(
                    F.sum(hits)
                    * 10000.0
                    / F.nullif(F.sum("n_toks"), F.lit(0))
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("pii_per_10k_tokens"),
        )
        .orderBy("source")
    )


# --- PMI collocation mining (log-free monotone rank) -------------------------

COLL_MIN_COUNT = 5
COLL_TOPK = 20
COLL_SCALE = 1_000_000


@register(
    "text_pmi_collocations",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, i AS pos, t[i] AS tok
        FROM (SELECT doc_id,
                     regexp_extract_all(text, '[a-z0-9]+') AS t
              FROM documents),
             LATERAL unnest(generate_series(1, len(t))) u(i)),
    uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1),
    nuni AS (SELECT CAST(sum(c) AS BIGINT) AS n_u FROM uni),
    big AS (
        SELECT a.tok AS w1, b.tok AS w2,
               CAST(count(*) AS BIGINT) AS c_xy
        FROM toks a JOIN toks b
            ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        GROUP BY 1, 2),
    nbig AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_b FROM big),
    scored AS (
        SELECT w1, w2, c_xy,
               CAST((CAST(c_xy AS HUGEINT) * n_u * n_u * {COLL_SCALE})
                    // (CAST(n_b AS HUGEINT) * cx.c * cy.c) AS BIGINT)
                   AS lift_q
        FROM big
        CROSS JOIN nuni CROSS JOIN nbig
        JOIN uni cx ON cx.tok = w1
        JOIN uni cy ON cy.tok = w2
        WHERE c_xy >= {COLL_MIN_COUNT})
    SELECT w1, w2, c_xy,
           CAST(lift_q AS DOUBLE) / {COLL_SCALE}.0 AS lift
    FROM scored
    ORDER BY lift_q DESC, w1, w2 LIMIT {COLL_TOPK}
    """,
)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{COLL_TOPK} PMI collocations (ADJACENT-bigram association
    mining — the phrase detector in front of tokenizer/vocab builders,
    Mikolov et al. 2013's phrase pass; complements text_pmi_pairs, which
    ranks NON-adjacent document co-occurrence): score = p(xy)/(p(x)p(y)).
    PMI itself is log of that ratio, and log is monotone — so the rank
    is computed on the RATIONAL lift c_xy * N_u^2 / (N_b * c_x * c_y)
    as an exact integer quantized at 1e-6, and no transcendental enters
    either engine. Ties break lexicographically on the bigram.

    Determinism: token/bigram counts are exact integers; the lift is
    one HUGEINT/DECIMAL(38) integer division; the reported double is
    the quantized integer descaled (bit-exact both sides).

    Scale shape: two map-side-combinable counts — unigrams from one
    token explode, bigrams assembled PER ROW inside the token array
    (transform over adjacent indices: no self-join exists, so a 10k-token
    document costs 10k bigram rows, never 10k^2 join candidates); the
    unigram table joins back by token key; the corpus totals are
    broadcast 1-row scalars. min-count {COLL_MIN_COUNT} prunes the
    Zipf tail before the join.
    """
    d = load(spark, sf_dir, "documents")
    toked = d.select(
        tokens(F.col("text")).alias("t")
    )
    # round-8 (SCALE.md 5.0x row): uni feeds THREE branches (corpus
    # total + both sides of the lift join) and all_big feeds two — left
    # lazy, each branch re-tokenized the corpus, so the regex pass ran
    # ~5x per action. Checkpoint the two VOCAB-SIZED aggregates (never
    # the wide token arrays — the round-4 persist trap): tokenization
    # now runs exactly twice (once per count shape).
    uni = (
        toked.select(F.explode("t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
        .transform(pin)
    )
    nuni = uni.agg(F.sum("c").alias("n_u"))
    all_big = (
        toked.select(
            F.explode(
                F.expr(
                    "CASE WHEN size(t) >= 2 THEN"
                    " transform(sequence(1, size(t) - 1),"
                    " i -> struct(t[i-1] AS w1, t[i] AS w2))"
                    " ELSE CAST(array() AS"
                    " array<struct<w1: string, w2: string>>) END"
                )
            ).alias("bg")
        )
        .select("bg.w1", "bg.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_xy"))
        .transform(pin)
    )
    nbig = all_big.agg(F.sum("c_xy").alias("n_b"))
    big = all_big.filter(F.col("c_xy") >= COLL_MIN_COUNT)
    cx = uni.select(F.col("tok").alias("w1"), F.col("c").alias("c_x"))
    cy = uni.select(F.col("tok").alias("w2"), F.col("c").alias("c_y"))
    scored = (
        big.crossJoin(F.broadcast(nuni))
        .crossJoin(F.broadcast(nbig))
        .join(cx, "w1")
        .join(cy, "w2")
        .selectExpr(
            "w1",
            "w2",
            "c_xy",
            f"CAST((CAST(c_xy AS DECIMAL(38,0)) * n_u * n_u * {COLL_SCALE})"
            f" div (CAST(n_b AS DECIMAL(38,0)) * c_x * c_y) AS BIGINT)"
            " AS lift_q",
        )
    )
    return (
        scored.orderBy(F.col("lift_q").desc(), "w1", "w2")
        .limit(COLL_TOPK)
        .selectExpr(
            "w1",
            "w2",
            "c_xy",
            f"CAST(lift_q AS DOUBLE) / {COLL_SCALE}.0 AS lift",
        )
    )
