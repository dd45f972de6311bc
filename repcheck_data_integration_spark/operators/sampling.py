"""Training-corpus assembly operators: split / cap / mix / pack.

The reference stops at ingest+cleanup (scripts/ai/summarize_bills_federal.py
is its closest thing to a corpus pipeline); a 100 TB pretraining pipeline
additionally needs the corpus-ASSEMBLY stage — deterministic train/valid/
test splits, per-domain downsampling caps, temperature-scaled mixture
weights (the mT5/PaLM sampling rule, public papers), and concat-and-chop
sequence packing (how documents become fixed-length training rows).

All four are engine-exact: selection is by md5-bucket (never rand()), token
counts are integers, packing is pure integer window arithmetic, and the one
float surface (temperature weights) goes through stable_round4. Scale
shapes: split is a zero-shuffle projection; cap and pack shuffle ONCE on
the domain key (shard-local packing is embarrassingly parallel); mix
aggregates to |domains| rows then broadcasts the totals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import ORACLE, register
from ..tables import load
from .dedup import sql_stable_round4, stable_round4

#: word-token regex shared with textstats (same on both engines)
TOK_RE = "[a-z0-9]+"

SPLIT_PCT = (90, 5)  # train < 90, valid < 95, else test
DOMAIN_CAP = 15  # max docs kept per source
MIX_ALPHA = 0.3  # temperature exponent (w ∝ share^alpha)
PACK_BUDGET = 256  # tokens per packed training sequence


def hash_bucket(col, mod: int):
    """Deterministic uniform bucket in [0, mod) from md5 of a string column
    — the cross-engine substitute for rand() (same mechanism as
    sample_deterministic, quality.py:228)."""
    return (
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long") % mod
    )


def sql_hash_bucket(expr: str, mod: int) -> str:
    return (
        f"CAST(('0x' || substr(md5({expr}), 1, 8)) AS BIGINT) % {mod}"
    )


@register(
    "split_train_valid_test",
    oracle=f"""
    SELECT doc_id, source,
           CAST({sql_hash_bucket("CAST(doc_id AS VARCHAR)", 100)} AS BIGINT)
               AS bucket,
           CASE WHEN {sql_hash_bucket("CAST(doc_id AS VARCHAR)", 100)}
                     < {SPLIT_PCT[0]} THEN 'train'
                WHEN {sql_hash_bucket("CAST(doc_id AS VARCHAR)", 100)}
                     < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'valid'
                ELSE 'test' END AS split,
           CAST(len(regexp_extract_all(text, '{TOK_RE}')) AS BIGINT)
               AS n_tokens
    FROM documents
    """,
)
def split_train_valid_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/valid/test assignment by md5-bucket of the
    document id. Hash-of-key (not rand(), not row position) is the only
    split that survives reprocessing: re-running on a grown corpus keeps
    every previously-assigned document in its split, so eval sets never
    silently absorb training data. Zero-shuffle projection — at 100 TB the
    split costs one scan, and the assignment composes with any downstream
    filter/join because it's a pure function of doc_id."""
    d = load(spark, sf_dir, "documents")
    b = hash_bucket(F.col("doc_id").cast("string"), 100)
    return d.select(
        "doc_id",
        "source",
        b.alias("bucket"),
        F.when(b < SPLIT_PCT[0], "train")
        .when(b < SPLIT_PCT[0] + SPLIT_PCT[1], "valid")
        .otherwise("test")
        .alias("split"),
        F.size(F.regexp_extract_all("text", F.lit(TOK_RE), 0))
        .cast("long")
        .alias("n_tokens"),
    )


@register(
    "sample_domain_cap",
    oracle=f"""
    SELECT doc_id, source, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY {sql_hash_bucket("CAST(doc_id AS VARCHAR)", 1000000)},
                            doc_id) AS sample_rank
        FROM documents) r
    WHERE sample_rank <= {DOMAIN_CAP}
    """,
)
def sample_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain downsampling cap: keep at most DOMAIN_CAP documents per
    source, chosen by md5-hash order (a deterministic uniform sample of
    each over-represented domain — how curation reins in the crawl's
    mega-domains without touching rare ones).

    Scale shape (round-10 partitioned-window sweep): the old form was
    ``row_number() OVER (PARTITION BY source)`` over ALL documents — a
    handful of source partitions each holding a crawl-sized slice (one
    task sorts the mega-domain; the int rank counter wraps past 2^31
    docs/source). grouped_bucket_rank with the [1, cap] range prunes to
    the hash buckets that can still reach the cap BEFORE any window —
    the md5 bucket value is uniform, so only ~cap/n of each domain is
    ever ranked, in (source, bucket)-partitioned windows with a LONG
    rank. This IS the old docstring's 'pre-thin then rank the
    survivors' two-phase plan, derived from the offsets instead of a
    guessed rate."""
    from .grouped_prefix import grouped_bucket_rank

    d = load(spark, sf_dir, "documents")
    h = hash_bucket(F.col("doc_id").cast("string"), 1_000_000)
    sel = grouped_bucket_rank(
        d.select("doc_id", "source", h.alias("_h")),
        ["source"],
        "_h",
        ["doc_id"],
        lo="1",
        hi=str(DOMAIN_CAP),
    )
    return sel.select(
        "doc_id", "source", F.col("_rk").cast("long").alias("sample_rank")
    )


@register(
    "mix_temperature_weights",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               count(*) AS n_docs,
               sum(len(regexp_extract_all(text, '{TOK_RE}'))) AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT sum(n_tokens) AS tot_tokens FROM per_source),
    w AS (
        SELECT source, n_docs, n_tokens,
               n_tokens * 1.0 / tot_tokens AS token_share,
               power(n_tokens * 1.0 / tot_tokens, {MIX_ALPHA}) AS w_raw
        FROM per_source, tot)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           {sql_stable_round4("token_share")} AS token_share,
           {sql_stable_round4("w_raw / sum(w_raw) OVER ()")} AS mix_weight,
           {sql_stable_round4("(w_raw / sum(w_raw) OVER ()) / token_share")}
               AS oversample_factor
    FROM w
    """,
)
def mix_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture weights per domain: w_i ∝ share_i^alpha
    (alpha=0.3 — the mT5/PaLM multilingual sampling rule from the public
    papers), normalized, plus the oversample factor each domain needs
    relative to natural sampling. Token counts are exact integers; the two
    pow/normalize floats go through stable_round4 so both engines' libm
    doubles hash identically. Scale shape: the corpus collapses to
    |domains| rows in ONE partial+final aggregation; the normalizing
    window runs over those few rows, never over the corpus."""
    d = load(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.regexp_extract_all("text", F.lit(TOK_RE), 0)))
        .cast("long")
        .alias("n_tokens"),
    )
    tot = W.partitionBy()
    share = F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(tot)
    w_raw = F.pow(share, MIX_ALPHA)
    weight = w_raw / F.sum(w_raw).over(tot)
    return per_source.select(
        "source",
        "n_docs",
        "n_tokens",
        stable_round4(share).alias("token_share"),
        stable_round4(weight).alias("mix_weight"),
        stable_round4(weight / share).alias("oversample_factor"),
    )


@register(
    "pack_token_sequences",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, source,
               len(regexp_extract_all(text, '{TOK_RE}')) AS n_tokens
        FROM documents),
    c AS (
        SELECT doc_id, source, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM t)
    SELECT doc_id, source,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           -- // is DuckDB floor division; bare / would be FLOAT division
           -- and CAST rounds-to-nearest, not floors
           CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS seq_first,
           CAST(CASE WHEN n_tokens = 0 THEN cum_before // {PACK_BUDGET}
                     ELSE (cum_before + n_tokens - 1) // {PACK_BUDGET} END
                AS BIGINT) AS seq_last,
           CAST(CASE WHEN n_tokens = 0 THEN 1
                     ELSE (cum_before + n_tokens - 1) // {PACK_BUDGET}
                          - cum_before // {PACK_BUDGET} + 1 END
                AS BIGINT) AS n_seqs_spanned,
           CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS offset_in_seq
    FROM c
    """,
)
def pack_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chop sequence packing: within each source shard, documents
    are concatenated in doc_id order and chopped into PACK_BUDGET-token
    training sequences (the GPT-style packing that wastes no pad tokens;
    documents may span sequence boundaries). Emits, per document, which
    packed sequence it starts in / ends in, how many it spans, and its
    token offset in the first one — pure integer window arithmetic, so
    both engines agree bit-for-bit. Scale shape: ONE shuffle on the shard
    key and a per-shard sort; shards pack independently (exactly how a
    1000-executor packing job runs), and the cumulative sum never
    materializes the concatenated text — only offsets move."""
    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(TOK_RE), 0)).alias("n_tokens"),
    )
    cum_before = F.coalesce(
        F.sum("n_tokens").over(
            W.partitionBy("source")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    c = t.select("doc_id", "source", "n_tokens", cum_before.alias("cum_before"))
    first = F.floor(F.col("cum_before") / PACK_BUDGET)
    last = F.when(F.col("n_tokens") == 0, first).otherwise(
        F.floor((F.col("cum_before") + F.col("n_tokens") - 1) / PACK_BUDGET)
    )
    return c.select(
        "doc_id",
        "source",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        first.cast("long").alias("seq_first"),
        last.cast("long").alias("seq_last"),
        F.when(F.col("n_tokens") == 0, F.lit(1))
        .otherwise(last - first + 1)
        .cast("long")
        .alias("n_seqs_spanned"),
        (F.col("cum_before") % PACK_BUDGET).cast("long").alias("offset_in_seq"),
    )


# --- flagship composition: the full corpus-assembly DAG -------------------

PIPE_MIN_TOKENS = 10
PIPE_MAX_TOKENS = 1000
PIPE_MIN_ALPHA = 0.7
PIPE_MIN_STOPWORDS = 2


def _pipe_sql() -> str:
    from .textstats import _SW_SQL

    b = sql_hash_bucket("CAST(doc_id AS VARCHAR)", 100)
    return f"""
    WITH gated AS (
        SELECT doc_id, source, text,
               regexp_extract_all(text, '{TOK_RE}') AS toks
        FROM documents
        WHERE len(regexp_extract_all(text, '{TOK_RE}'))
              BETWEEN {PIPE_MIN_TOKENS} AND {PIPE_MAX_TOKENS}),
    ok AS (
        SELECT doc_id, source, text, len(toks) AS n_tokens
        FROM gated
        WHERE len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
              * 1.0 / len(toks) >= {PIPE_MIN_ALPHA}
          AND len(list_distinct(list_filter(toks, x -> x IN {_SW_SQL})))
              >= {PIPE_MIN_STOPWORDS}),
    canon AS (
        SELECT doc_id, source, n_tokens,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id
        FROM ok),
    kept AS (
        SELECT doc_id, source, n_tokens,
               CASE WHEN {b} < {SPLIT_PCT[0]} THEN 'train'
                    WHEN {b} < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'valid'
                    ELSE 'test' END AS split
        FROM canon WHERE doc_id = canonical_id),
    packed AS (
        SELECT doc_id, source, split, n_tokens,
               coalesce(sum(n_tokens) OVER (
                   PARTITION BY source, split ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_before
        FROM kept)
    SELECT doc_id, source, split,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_before // {PACK_BUDGET} AS BIGINT) AS seq_idx,
           CAST(cum_before % {PACK_BUDGET} AS BIGINT) AS offset_in_seq
    FROM packed
    """


@register("pipeline_pretrain_corpus", oracle=_pipe_sql())
def pipeline_pretrain_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full corpus-assembly run as ONE declarative DAG: quality gates
    (token bounds pushed toward the scan, alpha-fraction and stopword
    gates — the Gopher rules) → exact dedup keeping the lowest doc_id per
    content hash → deterministic 90/5/5 split → concat-and-chop packing
    per (source, split) shard, so no packed sequence ever mixes splits.
    This is the composition every pretraining drop executes; expressed as
    one plan, Catalyst shares the token-array projection across the gates
    and fuses the post-shuffle tails. Exactly TWO exchanges at any scale:
    the content-hash window and the shard-pack window — nothing else
    shuffles, and both keys are high-cardinality (no skew pile-up)."""
    from .textstats import STOPWORDS

    d = load(spark, sf_dir, "documents")
    toks = F.regexp_extract_all("text", F.lit(TOK_RE), 0)
    g = d.select("doc_id", "source", "text", toks.alias("__toks")).filter(
        F.size("__toks").between(PIPE_MIN_TOKENS, PIPE_MAX_TOKENS)
    )
    n = F.size("__toks")
    alpha_ok = (
        F.size(F.filter("__toks", lambda x: x.rlike("[a-z]"))) * 1.0 / n
        >= PIPE_MIN_ALPHA
    )
    stop_ok = (
        F.size(F.array_distinct(F.filter("__toks", lambda x: x.isin(*STOPWORDS))))
        >= PIPE_MIN_STOPWORDS
    )
    ok = g.filter(alpha_ok & stop_ok).select(
        "doc_id", "source", "text", n.alias("n_tokens")
    )
    kept = (
        ok.withColumn(
            "__canon", F.min("doc_id").over(W.partitionBy(F.md5("text")))
        )
        .filter(F.col("doc_id") == F.col("__canon"))
        .drop("__canon", "text")
    )
    b = hash_bucket(F.col("doc_id").cast("string"), 100)
    kept = kept.withColumn(
        "split",
        F.when(b < SPLIT_PCT[0], "train")
        .when(b < SPLIT_PCT[0] + SPLIT_PCT[1], "valid")
        .otherwise("test"),
    )
    cum_before = F.coalesce(
        F.sum("n_tokens").over(
            W.partitionBy("source", "split")
            .orderBy("doc_id")
            .rowsBetween(W.unboundedPreceding, -1)
        ),
        F.lit(0),
    )
    return kept.select(
        "doc_id",
        "source",
        "split",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        cum_before.alias("__cum"),
    ).select(
        "doc_id",
        "source",
        "split",
        "n_tokens",
        F.floor(F.col("__cum") / PACK_BUDGET).cast("long").alias("seq_idx"),
        (F.col("__cum") % PACK_BUDGET).cast("long").alias("offset_in_seq"),
    )


EPOCH_CAP = 4.0  # max repeats per source (public rule of thumb: ~4 epochs)


def _epoch_schedule_oracle() -> str:
    hash_ep = sql_hash_bucket("CAST(doc_id AS VARCHAR) || '#ep'", 10000)
    return f"""
    WITH w AS ({ORACLE["mix_temperature_weights"]}),
    sched AS (
        SELECT source, least(oversample_factor, {EPOCH_CAP}) AS target_repeats
        FROM w),
    docs AS (
        SELECT d.doc_id, d.source,
               s.target_repeats,
               floor(s.target_repeats) AS full_epochs,
               s.target_repeats - floor(s.target_repeats) AS frac
        FROM documents d JOIN sched s ON d.source = s.source)
    SELECT doc_id, source, CAST(e AS BIGINT) AS epoch_idx
    FROM docs, unnest(generate_series(
             1, CAST(ceil(target_repeats) AS BIGINT))) AS u(e)
    WHERE e <= full_epochs
       OR ({hash_ep}) < frac * 10000
    """


@register("mix_epoch_schedule", oracle=_epoch_schedule_oracle())
def mix_epoch_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-expansion of the temperature mixture: turn each source's
    oversample factor into concrete (doc, epoch) training rows — whole
    epochs replicate every doc, the fractional last epoch admits a
    deterministic md5-bucket of docs at the leftover rate (and a factor
    < 1 degrades to pure subsampling: zero full epochs, one fractional).
    Repeats are capped at {EPOCH_CAP} epochs (the public multi-epoch
    scaling rule of thumb).

    Determinism: target_repeats comes from the registered
    mix_temperature_weights output (stable_round4'd), selection is by
    md5-bucket salted with '#ep' so it is independent of the train/test
    split buckets. Scale shape: the schedule is |sources| rows broadcast
    onto documents; the explode multiplies rows by at most {EPOCH_CAP} —
    no shuffle at all (hash, sequence, filter are all map-side)."""
    w = mix_temperature_weights(spark, sf_dir).select(
        "source",
        F.least(F.col("oversample_factor"), F.lit(EPOCH_CAP)).alias(
            "target_repeats"
        ),
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    j = d.join(F.broadcast(w), "source")
    full = F.floor(F.col("target_repeats"))
    frac = F.col("target_repeats") - F.floor(F.col("target_repeats"))
    ex = j.select(
        "doc_id",
        "source",
        full.alias("full_epochs"),
        frac.alias("frac"),
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.ceil("target_repeats"))
        ).alias("e"),
    )
    bucket = hash_bucket(
        F.concat(F.col("doc_id").cast("string"), F.lit("#ep")), 10000
    )
    return (
        ex.filter(
            (F.col("e") <= F.col("full_epochs"))
            | (bucket < F.col("frac") * 10000)
        )
        .select("doc_id", "source", F.col("e").cast("long").alias("epoch_idx"))
    )


@register(
    "sample_class_balance",
    oracle=f"""
    WITH counts AS (SELECT label, count(*) AS n FROM embeddings GROUP BY label),
    m AS (SELECT min(n) AS min_n FROM counts),
    ranked AS (
        SELECT vec_id, label,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5(CAST(vec_id AS VARCHAR) || '#bal'), vec_id)
                   AS sample_rank
        FROM embeddings)
    SELECT vec_id, label, CAST(sample_rank AS BIGINT) AS sample_rank
    FROM ranked, m WHERE sample_rank <= m.min_n
    """,
)
def sample_class_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based class balancing: downsample every label to the size of
    the SMALLEST label by taking the first min_n members in deterministic
    md5-order (salted '#bal' so it is independent of every other sampling
    op's buckets) — the companion to rate-based sample_stratified when the
    contract is 'exactly equal class counts' (classifier training,
    evaluation pools).

    Scale shape (round-10 partitioned-window sweep): the old form was a
    label-keyed rank window over the whole fact — each label partition
    is class-sized (one task per class; int rank wrap past 2^31). Now
    grouped_bucket_rank buckets on a numeric md5 prefix (conv of the
    first 15 hex chars — a monotone non-strict proxy for the md5 string
    order, so ordering by (prefix, md5, vec_id) equals ordering by
    (md5, vec_id)) and prunes to the buckets that can still reach
    min_n; windows partition by (label, bucket), rank is LONG. min_n
    rides in as a broadcast constant column so the [1, min_n] range is
    a per-row expression."""
    from .grouped_prefix import grouped_bucket_rank

    e = load(spark, sf_dir, "embeddings")
    counts = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    m = counts.agg(F.min("n").alias("min_n"))
    h = F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("#bal")))
    base = (
        e.select("vec_id", "label", h.alias("_h"))
        .withColumn("_hn", F.conv(F.substring("_h", 1, 15), 16, 10).cast("long"))
        .join(F.broadcast(m))
    )
    sel = grouped_bucket_rank(
        base, ["label"], "_hn", ["_h", "vec_id"], lo="1", hi="min_n"
    )
    return sel.select(
        "vec_id", "label", F.col("_rk").cast("long").alias("sample_rank")
    )


WEIGHTED_K = 50  # weighted-sample size
ES_SCALE = 1000  # pre-round scale so stable_round4 keeps ~7 sig. decimals


@register(
    "sample_weighted",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, greatest(n_chars, 1) AS w,
               (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#wt'),
                                     1, 8)) AS BIGINT) + 0.5)
                   / 4294967296.0 AS u
        FROM documents),
    keyed AS (
        SELECT doc_id, CAST(w AS BIGINT) AS weight,
               {sql_stable_round4(f"{ES_SCALE} * ln(u) / w")} AS es_key
        FROM s)
    SELECT doc_id, weight, es_key
    FROM keyed
    ORDER BY es_key DESC, doc_id
    LIMIT {WEIGHTED_K}
    """,
)
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    one-pass scheme (Inf. Proc. Letters 2006, public): each row gets key
    u^(1/w) — equivalently ln(u)/w — with u a deterministic md5-derived
    uniform ('#wt'-salted, independent of every other sampling op) and
    w = n_chars, then the global top-k by key IS a w-proportional sample
    without replacement. The reference has no sampler (single-process
    full scans); this is the distributed idiom: one projection + one
    TakeOrdered, no shuffle beyond the top-k reduction, identical result
    under any partitioning.

    Determinism: the only float surface is ln(); keys go through
    stable_round4 after a x{ES_SCALE} rescale (keeps ~7 significant
    digits — rounding absorbs cross-engine libm ulp drift, doc_id breaks
    the now-astronomically-unlikely residual ties)."""
    d = load(spark, sf_dir, "documents")
    w = F.greatest(F.col("n_chars"), F.lit(1))
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit("#wt"))),
            1, 8,
        ),
        16, 10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    keyed = d.select(
        "doc_id",
        w.cast("long").alias("weight"),
        stable_round4(F.lit(ES_SCALE) * F.log(u) / w).alias("es_key"),
    )
    return keyed.orderBy(
        F.col("es_key").desc(), F.col("doc_id")
    ).limit(WEIGHTED_K)


def _web_pipe_sql() -> str:
    from .dedup import _URL_CANON_SQL

    b = sql_hash_bucket("CAST(doc_id AS VARCHAR)", 100)
    return f"""
    WITH urls AS ({_URL_CANON_SQL}),
    canon AS (
        SELECT doc_id,
               'https://'
               || lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1))
               || regexp_replace(
                      regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1),
                      '/$', '')
               || '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1)
                   AS curl
        FROM urls),
    url_keep AS (
        SELECT min(doc_id) AS doc_id FROM canon GROUP BY curl),
    gated AS (
        SELECT d.doc_id, d.text,
               len(regexp_extract_all(d.text, '[a-z0-9]+')) AS n_tokens
        FROM documents d JOIN url_keep USING (doc_id)
        WHERE len(regexp_extract_all(d.text, '[a-z0-9]+'))
                  BETWEEN 20 AND 1000),
    deduped AS (
        SELECT doc_id, n_tokens, md5(text) AS content_hash,
               min(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
        FROM gated)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, content_hash,
           CASE WHEN {b} < {SPLIT_PCT[0]} THEN 'train'
                WHEN {b} < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'valid'
                ELSE 'test' END AS split
    FROM deduped WHERE doc_id = canon_id
    """


@register("pipeline_web_corpus", oracle=_web_pipe_sql())
def pipeline_web_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-scrape curation pipeline in ONE DAG — the CommonCrawl order of
    operations: URL-canonicalization dedup FIRST (cheapest key, kills
    refetch aliases before any text is touched), then token-count quality
    gates, then content exact-dedup, then the reprocessing-stable
    train/valid/test split. Composes dedup_url_canonical +
    text gates + dedup_exact + split_train_valid_test as subtrees of one
    plan: Catalyst pushes the url keep-list semi-join below the text
    tokenization, so gated token counting runs only on url-unique docs.

    Scale: shuffles are (canonical_url) group, (content_hash) window, and
    the broadcast-back of the url keep-list — each on a natural key; the
    split is a zero-shuffle projection."""
    from pyspark.sql import Window as PW

    from .dedup import canonical_url_col, synth_messy_url

    d = load(spark, sf_dir, "documents")
    curl = canonical_url_col(synth_messy_url())
    url_keep = (
        d.select("doc_id", curl.alias("curl"))
        .groupBy("curl")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    toks = F.regexp_extract_all("text", F.lit("[a-z0-9]+"), 0)
    gated = (
        d.join(url_keep, "doc_id", "semi")
        .select("doc_id", "text", F.size(toks).alias("n_tokens"))
        .filter(F.col("n_tokens").between(20, 1000))
    )
    deduped = gated.select(
        "doc_id", "n_tokens", F.md5("text").alias("content_hash")
    ).withColumn(
        "canon_id", F.min("doc_id").over(PW.partitionBy("content_hash"))
    )
    bucket = hash_bucket(F.col("doc_id").cast("string"), 100)
    return (
        deduped.filter(F.col("doc_id") == F.col("canon_id"))
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            "content_hash",
            F.when(bucket < SPLIT_PCT[0], "train")
            .when(bucket < SPLIT_PCT[0] + SPLIT_PCT[1], "valid")
            .otherwise("test")
            .alias("split"),
        )
    )


@register("pack_best_fit")
def pack_best_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-fit-decreasing sequence packing WITHOUT document splitting —
    the padding-minimizing packer (each training sequence holds whole
    documents; BFD's bin count is ≤ 11/9·OPT+1, Johnson 1973, public):
    within each source shard, docs sort by (tokens desc, doc_id) and each
    goes into the fullest bin it still fits (ties → lowest bin id); docs
    longer than PACK_BUDGET get a dedicated overflow bin (truncation is
    the consumer's policy call, flagged here). Complements
    pack_token_sequences' concat-and-chop, which wastes no pad tokens but
    splits documents across sequence boundaries.

    Engine shape: the shard is the distribution unit — applyInPandas
    groups by source, so 1000 shards pack on 1000 executors; WITHIN a
    shard the algorithm is inherently sequential (each placement depends
    on all previous fills), which is exactly the scale contract of real
    packing jobs (shard-parallel, bin-serial). The heap-based best-fit is
    O(n log n) per shard. rows-only (sequential state machine — not
    SQL-expressible without per-bin recursion); the exactly-once /
    capacity / determinism invariants are unit-tested."""
    import pandas as pd

    def pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import bisect

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        ).reset_index(drop=True)
        # sorted list of (residual, bin_id): best fit = smallest residual
        # >= need; ties resolve to the LOWEST bin id via the sort key
        open_bins: list[tuple[int, int]] = []
        next_bin = 0
        out_bin, out_fill, out_over = [], [], []
        fills: dict[int, int] = {}
        for n in pdf["n_tokens"]:
            n = int(n)
            if n > PACK_BUDGET:
                b = next_bin
                next_bin += 1
                fills[b] = n
                out_bin.append(b)
                out_over.append(True)
                continue
            i = bisect.bisect_left(open_bins, (n, -1))
            if i < len(open_bins):
                resid, b = open_bins.pop(i)
                fills[b] += n
                if resid - n > 0:
                    bisect.insort(open_bins, (resid - n, b))
            else:
                b = next_bin
                next_bin += 1
                fills[b] = n
                if PACK_BUDGET - n > 0:
                    bisect.insort(open_bins, (PACK_BUDGET - n, b))
            out_bin.append(b)
            out_over.append(False)
        out_fill = [fills[b] for b in out_bin]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "source": pdf["source"],
                "n_tokens": pdf["n_tokens"],
                "bin_id": out_bin,
                "bin_fill": out_fill,
                "is_overflow": out_over,
            }
        )

    d = load(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.regexp_extract_all("text", F.lit(TOK_RE), 0))
        .cast("long")
        .alias("n_tokens"),
    )
    return t.groupBy("source").applyInPandas(
        pack,
        schema=(
            "doc_id long, source string, n_tokens long, bin_id long,"
            " bin_fill long, is_overflow boolean"
        ),
    )


# ---------------------------------------------------------------------------
# text_dsir_weights — hashed-n-gram importance resampling weights
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 512  # hashed feature space size (DSIR uses 10⁴; scaled down
#                     to the fixture corpus so buckets stay well-populated)
DSIR_LOG_SCALE = 1_000_000.0
DSIR_TARGET_LANG = "en"


@register(
    "text_dsir_weights",
    oracle=f"""
    WITH tb AS (
        SELECT doc_id, lang,
               {sql_hash_bucket("tok", DSIR_BUCKETS)} AS b
        FROM (SELECT doc_id, lang,
                     unnest(regexp_extract_all(text, '{TOK_RE}')) AS tok
              FROM documents)),
    dc AS (SELECT doc_id, b, count(*) AS cnt FROM tb GROUP BY 1, 2),
    rc AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
    tc AS (SELECT b, count(*) AS ct FROM tb
           WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY 1),
    tot AS (SELECT count(*) AS tr,
                   sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                            THEN 1 ELSE 0 END) AS tt
            FROM tb),
    model AS (
        SELECT rc.b,
               CAST(floor(ln((COALESCE(tc.ct, 0) + 1.0)
                             / CAST(tot.tt + {DSIR_BUCKETS} AS DOUBLE))
                          * {DSIR_LOG_SCALE!r}) AS BIGINT)
             - CAST(floor(ln((rc.cr + 1.0)
                             / CAST(tot.tr + {DSIR_BUCKETS} AS DOUBLE))
                          * {DSIR_LOG_SCALE!r}) AS BIGINT) AS lq
        FROM rc CROSS JOIN tot LEFT JOIN tc ON tc.b = rc.b),
    w AS (
        SELECT dc.doc_id,
               CAST(sum(dc.cnt) AS BIGINT) AS n_toks,
               CAST(sum(dc.cnt * m.lq) AS BIGINT) AS dsir_weight_q
        FROM dc JOIN model m ON m.b = dc.b GROUP BY 1)
    SELECT d.doc_id, d.lang, w.n_toks, w.dsir_weight_q,
           CAST(CASE WHEN w.dsir_weight_q > 0 THEN 1 ELSE 0 END AS INTEGER)
               AS keep
    FROM w JOIN documents d ON d.doc_id = w.doc_id
    ORDER BY d.doc_id
    """,
)
def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (Xie et al., NeurIPS 2023, "Data
    Selection for Language Models via Importance Resampling"): score every
    raw document by how much more likely its hashed bag-of-n-grams is
    under a TARGET distribution (here: the '{DSIR_TARGET_LANG}' slice)
    than under the raw corpus — ``w(x) = Σ_f cnt_x(f) · (log p_tgt(f) −
    log p_raw(f))`` over {DSIR_BUCKETS} hashed unigram features. The paper
    hashes unigrams+bigrams into 10⁴ buckets; the feature key here is the
    md5 bucket of the token ({DSIR_BUCKETS} buckets for the fixture-sized
    corpus) and a bigram variant is the same plan with the hash taken over
    ``tok_i || ' ' || tok_{{i+1}}``. Completes the data-mixture family
    (mix_temperature_weights = share-based, mix_excess_loss_weights =
    loss-based, this = distribution-matching) — the third published
    reweighting rule a pretraining pipeline chooses between.

    Determinism: both bucket LMs are add-one-smoothed exact integer
    counts; each log-probability is quantized (floor(ln·1e6)) BEFORE the
    difference and the per-doc sum, so the weight is an exact integer sum
    of integers — order-independent under any partitioning. ``keep`` is
    the sign test (weight > 0 ⇔ doc looks more target- than raw-like);
    thresholded resampling composes downstream exactly like
    sample_weighted.

    Scale shape: ONE token explode, collapsed by map-side partial agg
    into the persisted (doc, lang, bucket, cnt) incidence — the only
    corpus-sized shuffle. The two bucket LMs ({DSIR_BUCKETS} rows each)
    and the 1-row totals are tiny reaggregates of that cache, and the
    model is broadcast into the scoring join, so the corpus is never
    shuffled a second time; the final join back to documents attaches
    metadata by doc_id. No all-pairs stage, no driver-side model.
    """
    d = load(spark, sf_dir, "documents")
    # one tokenize+explode pass, collapsed straight to (doc, lang, bucket)
    # counts and persisted: the two bucket LMs, the totals AND the scoring
    # side all reaggregate this narrow cached frame instead of re-running
    # the corpus scan four times (the ml_naive_bayes_lang lesson)
    dcl = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.regexp_extract_all("text", F.lit(TOK_RE), 0)).alias(
                "tok"
            ),
        )
        .select(
            "doc_id",
            "lang",
            hash_bucket(F.col("tok"), DSIR_BUCKETS).alias("b"),
        )
        .groupBy("doc_id", "lang", "b")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .persist()
    )
    dc = dcl.select("doc_id", "b", "cnt")
    # BOTH bucket LMs in one 512-row aggregate of the cache, and the 1-row
    # corpus totals as a window over that tiny frame: the whole model is a
    # SINGLE broadcast subtree, so exactly one job materializes the cached
    # incidence (separate rc/tc/tot broadcasts each ran their own job
    # before the cache was warm — 3 redundant corpus scans, measured 9.9s
    # -> 2.1s at sf0.1 in the DuckDB head-to-head harness)
    bb = dcl.groupBy("b").agg(
        F.sum("cnt").alias("cr"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, F.col("cnt")).otherwise(
                0
            )
        ).alias("ct"),
    )
    tw = W.partitionBy()  # 512 bounded rows — not a data-sized window
    logq = lambda num, den: F.floor(  # noqa: E731
        F.log(num / den.cast("double")) * F.lit(DSIR_LOG_SCALE)
    ).cast("long")
    model = bb.select(
        "b",
        F.sum("cr").over(tw).alias("tr"),
        F.sum("ct").over(tw).alias("tt"),
        "cr",
        "ct",
    ).select(
        "b",
        (
            logq(
                F.col("ct") + F.lit(1.0),
                F.col("tt") + F.lit(DSIR_BUCKETS),
            )
            - logq(
                F.col("cr") + F.lit(1.0),
                F.col("tr") + F.lit(DSIR_BUCKETS),
            )
        ).alias("lq"),
    )
    w = (
        dc.join(F.broadcast(model), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("long").alias("n_toks"),
            F.sum(F.col("cnt") * F.col("lq")).cast("long").alias(
                "dsir_weight_q"
            ),
        )
    )
    return (
        w.join(d.select("doc_id", "lang"), "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_toks",
            "dsir_weight_q",
            F.when(F.col("dsir_weight_q") > 0, 1)
            .otherwise(0)
            .cast("int")
            .alias("keep"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# mix_annealing_schedule — two-phase quality-annealed data mixture
# ---------------------------------------------------------------------------

ANNEAL_FRAC = 0.1     # final fraction of training spent on the anneal phase
ANNEAL_QUALITY = 0.7  # quality_score gate for the anneal pool (rounded scale)

# Shared share arithmetic, evaluated verbatim by both engines over exact
# integer token counts: blended = (1-f)*main_share + f*anneal_share.
_BLEND = (
    f"(1.0 - {ANNEAL_FRAC}) * (CAST(src_toks AS DOUBLE)"
    " / CAST(tot_toks AS DOUBLE))"
    f" + {ANNEAL_FRAC} * (CAST(src_hq AS DOUBLE)"
    " / CAST(tot_hq AS DOUBLE))"
)


def _annealing_oracle() -> str:
    return f"""
    WITH q AS ({ORACLE["text_quality_score"]}),
    j AS (
        SELECT d.source, q.n_tokens, q.quality_score
        FROM q JOIN documents d ON d.doc_id = q.doc_id),
    s AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS src_toks,
               CAST(sum(CASE WHEN quality_score >= {ANNEAL_QUALITY}
                             THEN n_tokens ELSE 0 END) AS BIGINT) AS src_hq
        FROM j GROUP BY source),
    t AS (SELECT sum(src_toks) AS tot_toks, sum(src_hq) AS tot_hq FROM s)
    SELECT source, n_docs, src_toks, src_hq,
           {sql_stable_round4(
               'CAST(src_toks AS DOUBLE) / CAST(tot_toks AS DOUBLE)')}
               AS main_share,
           {sql_stable_round4(
               'CAST(src_hq AS DOUBLE) / CAST(tot_hq AS DOUBLE)')}
               AS anneal_share,
           {sql_stable_round4(_BLEND)} AS blended_share
    FROM s CROSS JOIN t
    ORDER BY source
    """


@register("mix_annealing_schedule", oracle=_annealing_oracle())
def mix_annealing_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase annealed data mixture — the published end-of-training
    recipe (MiniCPM, Hu et al. 2024; the Llama-3 report's 'annealing on
    high-quality data'): spend the first 1−{ANNEAL_FRAC:.0%} of training
    on the natural token mixture, then anneal the final {ANNEAL_FRAC:.0%}
    on ONLY the high-quality pool (quality_score ≥ {ANNEAL_QUALITY},
    reusing the registered text_quality_score — predict and schedule
    cannot drift apart). Emits per source its main-phase share,
    anneal-phase share and the blended effective share — the knob a
    pretraining run hands to its sampler; completes the mixture family
    (temperature = share-based, excess-loss = loss-based, DSIR =
    distribution-matching, this = schedule-based).

    Determinism: token counts are exact integers; the quality gate
    compares the stable_round4-rounded score (identical in both engines,
    so the threshold cannot straddle an ulp); the three shares are
    rationals of exact integer sums evaluated through the SAME expression
    string on both sides.

    Scale shape: one quality pass over documents (map-only, no shuffle)
    followed by one hash aggregate to |sources| rows; the 1-row token
    totals broadcast back. Nothing downstream of the scan exceeds source
    cardinality.
    """
    from .textstats import text_quality_score

    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    q = text_quality_score(spark, sf_dir).select(
        "doc_id", "n_tokens", "quality_score"
    )
    s = (
        q.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("src_toks"),
            F.sum(
                F.when(
                    F.col("quality_score") >= ANNEAL_QUALITY,
                    F.col("n_tokens"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("src_hq"),
        )
    )
    t = s.agg(
        F.sum("src_toks").alias("tot_toks"), F.sum("src_hq").alias("tot_hq")
    )
    return (
        s.crossJoin(F.broadcast(t))
        .select(
            "source",
            "n_docs",
            "src_toks",
            "src_hq",
            stable_round4(
                F.col("src_toks").cast("double")
                / F.col("tot_toks").cast("double")
            ).alias("main_share"),
            stable_round4(
                F.col("src_hq").cast("double")
                / F.col("tot_hq").cast("double")
            ).alias("anneal_share"),
            stable_round4(F.expr(_BLEND)).alias("blended_share"),
        )
        .orderBy("source")
    )


# --- integer token-budget allocation across domains -------------------------

BUDGET_TOKENS = 10_000_000  # training-run token budget to split
BUDGET_W_SCALE = 1_000_000  # weight quantization scale


@register(
    "mix_token_budget_allocation",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               CAST(sum(len(regexp_extract_all(text, '{TOK_RE}')))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
    wq AS (
        SELECT source, n_tokens,
               CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))
                          * {BUDGET_W_SCALE}) AS BIGINT) AS w
        FROM per_source),
    tot AS (SELECT sum(w) AS tw, count(*) AS ns FROM wq),
    base AS (
        SELECT source, n_tokens, w,
               ({BUDGET_TOKENS} * w) // tw AS base_alloc,
               ({BUDGET_TOKENS} * w) % tw AS rem
        FROM wq CROSS JOIN tot),
    leftover AS (
        SELECT {BUDGET_TOKENS} - sum(base_alloc) AS extra FROM base),
    ranked AS (
        SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
        FROM base)
    SELECT source, n_tokens,
           CAST(base_alloc
                + CASE WHEN rk <= extra THEN 1 ELSE 0 END
                AS BIGINT) AS alloc_tokens,
           CAST(w AS BIGINT) AS weight_q
    FROM ranked CROSS JOIN leftover
    ORDER BY source
    """,
)
def mix_token_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split a {BUDGET_TOKENS:,}-token training budget across domains by
    temperature-scaled weights, in PURE INTEGER arithmetic with the
    largest-remainder method (the agg_penny_allocation discipline applied
    to mixture design): alpha = 0.5 temperature means w_i = sqrt(tokens_i)
    — and IEEE 754 requires sqrt to be CORRECTLY ROUNDED, so unlike
    pow/ln the weight doubles are bit-identical across engines before
    quantization. base_i = B*w_i div SUM(w); the leftover tokens go to the
    largest remainders (full (rem desc, source) tie-break). The allocation
    sums to the budget EXACTLY on every fixture — that identity is what
    the cross-engine hash certifies.

    Scale shape: corpus collapses to |domains| rows in one
    partial+final aggregate; everything downstream is window work over
    those rows."""
    tot = W.partitionBy()
    d = load(spark, sf_dir, "documents")
    wq = (
        d.groupBy("source")
        .agg(
            F.sum(F.size(F.regexp_extract_all("text", F.lit(TOK_RE), 0)))
            .cast("long")
            .alias("n_tokens")
        )
        .select(
            "source",
            "n_tokens",
            F.floor(
                F.sqrt(F.col("n_tokens").cast("double")) * BUDGET_W_SCALE
            )
            .cast("long")
            .alias("w"),
        )
    )
    base = wq.select(
        "source",
        "n_tokens",
        "w",
        F.expr(f"({BUDGET_TOKENS}L * w) div sum(w) over ()").alias(
            "base_alloc"
        ),
        F.expr(f"({BUDGET_TOKENS}L * w) % sum(w) over ()").alias("rem"),
    )
    ranked = base.select(
        "*",
        F.row_number()
        .over(W.orderBy(F.col("rem").desc(), F.col("source")))
        .alias("rk"),
        (F.lit(BUDGET_TOKENS) - F.sum("base_alloc").over(tot)).alias(
            "extra"
        ),
    )
    return ranked.select(
        "source",
        "n_tokens",
        (
            F.col("base_alloc")
            + F.when(F.col("rk") <= F.col("extra"), 1).otherwise(0)
        )
        .cast("long")
        .alias("alloc_tokens"),
        F.col("w").cast("long").alias("weight_q"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# split_leakage_safe — cluster-aware train/valid/test (round 8)
# ---------------------------------------------------------------------------

_SLS_ORACLE = f"""
    WITH comp AS (SELECT * FROM (__COMPONENTS__)),
    keyed AS (
        SELECT d.doc_id, d.source,
               coalesce(c.canonical_doc_id, d.doc_id) AS split_key
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id),
    b AS (
        SELECT doc_id, source, split_key,
               {sql_hash_bucket("CAST(split_key AS VARCHAR)", 100)} AS bucket
        FROM keyed)
    SELECT doc_id, source,
           CAST(split_key AS BIGINT) AS split_key,
           CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < {SPLIT_PCT[0]} THEN 'train'
                WHEN bucket < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'valid'
                ELSE 'test' END AS split
    FROM b
    """


@register("split_leakage_safe", oracle=_SLS_ORACLE)
def split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/valid/test assignment that cannot leak near-duplicates
    across the split boundary: the md5 bucket is computed on the
    document's NEAR-DUP CLUSTER canonical id (dedup_components'
    MinHash-LSH → verified-Jaccard → connected components), not on the
    document id — so an entire cluster of near-copies lands in ONE
    split, and the eval set can never contain a paraphrase of a training
    document. split_train_valid_test's plain hash-of-doc-id split is
    exactly the pipeline bug this op guards against: two 0.9-Jaccard
    twins hash independently and straddle the boundary ~9.5% of the
    time. Singleton documents (no near-dup) key on their own id, so the
    assignment stays reprocessing-stable for them just like the plain
    split, and cluster members move ONLY if their cluster grows a new
    minimum member.

    Scale shape: the component relation is |clustered docs| (candidates
    come banded+salted, closure via pointer jumping — dedup.py), the
    split assignment is one left join on doc_id plus a pure hash
    projection; no new shuffle class beyond what dedup_components
    already pays — and that build is paid ONCE per session: the
    components frame comes from ckpt.shared_components (round-9), so a
    gate/bench run of this op and dq_split_contamination back-to-back
    no longer rebuilds the LSH+CC DAG twice.
    """
    from .ckpt import shared_components

    comp = shared_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "source")
    keyed = d.join(
        comp.withColumnRenamed("canonical_doc_id", "_canon"), "doc_id", "left"
    ).select(
        "doc_id",
        "source",
        F.coalesce(F.col("_canon"), F.col("doc_id")).alias("split_key"),
    )
    b = hash_bucket(F.col("split_key").cast("string"), 100)
    return keyed.select(
        "doc_id",
        "source",
        F.col("split_key").cast("long").alias("split_key"),
        b.cast("long").alias("bucket"),
        F.when(b < SPLIT_PCT[0], "train")
        .when(b < SPLIT_PCT[0] + SPLIT_PCT[1], "valid")
        .otherwise("test")
        .alias("split"),
    )


# splice the registered components oracle in (decoration-time f-strings
# can't nest the brace-heavy recursive CTE — the llm_hybrid_rrf pattern);
# dedup_components is registered by the .dedup import at the top
ORACLE["split_leakage_safe"] = ORACLE["split_leakage_safe"].replace(
    "__COMPONENTS__", ORACLE["dedup_components"]
)


# ---------------------------------------------------------------------------
# dq_split_contamination — audit an existing split for cluster straddling
# ---------------------------------------------------------------------------

_DSC_ORACLE = f"""
    WITH comp AS (SELECT * FROM (__COMPONENTS__)),
    plain AS (
        SELECT doc_id,
               CASE WHEN {sql_hash_bucket("CAST(doc_id AS VARCHAR)", 100)}
                         < {SPLIT_PCT[0]} THEN 'train'
                    WHEN {sql_hash_bucket("CAST(doc_id AS VARCHAR)", 100)}
                         < {SPLIT_PCT[0] + SPLIT_PCT[1]} THEN 'valid'
                    ELSE 'test' END AS split
        FROM documents),
    members AS (
        SELECT c.canonical_doc_id AS cl, p.doc_id, p.split
        FROM comp c JOIN plain p ON c.doc_id = p.doc_id),
    per_cl AS (
        SELECT cl,
               count(*) AS n_members,
               count(DISTINCT split) AS n_splits,
               max(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS has_train
        FROM members GROUP BY cl),
    leaked AS (
        SELECT count(*) AS n_leaked FROM members m
        JOIN per_cl ON per_cl.cl = m.cl
        WHERE m.split <> 'train' AND per_cl.has_train = 1),
    s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_clusters,
               CAST(sum(CASE WHEN n_splits > 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_straddling,
               CAST(sum(n_members) AS BIGINT) AS n_clustered_docs
        FROM per_cl)
    SELECT n_clusters, n_straddling, n_clustered_docs,
           CAST(n_leaked AS BIGINT) AS n_eval_docs_leaked,
           CAST(floor(CAST(n_straddling AS DOUBLE)
                      / nullif(n_clusters, 0) * 10000.0 + 0.5) / 10000.0
                AS DOUBLE) AS straddle_rate
    FROM s CROSS JOIN leaked
    """


@register("dq_split_contamination", oracle=_DSC_ORACLE)
def dq_split_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit of the PLAIN hash split against the near-dup cluster graph:
    how many clusters straddle a split boundary, and how many valid/test
    documents have a near-duplicate in train (the count an eval-
    contamination report leads with). This is the measurement companion
    to split_leakage_safe — run it on an EXISTING corpus before deciding
    whether re-splitting is worth invalidating cached eval baselines.

    Scale shape: components as in dedup_components — served from the
    per-session ckpt.shared_components checkpoint (round-9, see
    split_leakage_safe); the audit itself is one join of the |clustered
    docs| relation against the zero-shuffle split projection, a
    per-cluster aggregate, and a 1-row rollup."""
    from .ckpt import shared_components

    comp = shared_components(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id")
    b = hash_bucket(F.col("doc_id").cast("string"), 100)
    plain = d.select(
        "doc_id",
        F.when(b < SPLIT_PCT[0], "train")
        .when(b < SPLIT_PCT[0] + SPLIT_PCT[1], "valid")
        .otherwise("test")
        .alias("split"),
    )
    members = comp.select(
        F.col("canonical_doc_id").alias("cl"), "doc_id"
    ).join(plain, "doc_id")
    per_cl = members.groupBy("cl").agg(
        F.count("*").alias("n_members"),
        F.countDistinct("split").alias("n_splits"),
        F.max(F.when(F.col("split") == "train", 1).otherwise(0)).alias(
            "has_train"
        ),
    )
    # NOT broadcast: the cluster relation is data-scaled (|clusters|);
    # both sides key on cl, so the planner's shuffle join is the safe
    # default and tiny SFs auto-broadcast on their own
    leaked = (
        members.join(
            per_cl.filter(F.col("has_train") == 1).select("cl"), "cl"
        )
        .filter(F.col("split") != "train")
        .agg(F.count("*").alias("n_leaked"))
    )
    s = per_cl.agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum(F.when(F.col("n_splits") > 1, 1).otherwise(0))
        .cast("long")
        .alias("n_straddling"),
        F.sum("n_members").cast("long").alias("n_clustered_docs"),
    )
    return s.crossJoin(F.broadcast(leaked)).select(
        "n_clusters",
        "n_straddling",
        "n_clustered_docs",
        F.col("n_leaked").cast("long").alias("n_eval_docs_leaked"),
        (
            F.floor(
                F.col("n_straddling").cast("double")
                / F.expr("nullif(n_clusters, 0)")
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).cast("double").alias("straddle_rate"),
    )


ORACLE["dq_split_contamination"] = ORACLE["dq_split_contamination"].replace(
    "__COMPONENTS__", ORACLE["dedup_components"]
)
