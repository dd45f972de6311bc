"""Text analysis for training-data pipelines (BASELINE.json north star).
Reference seed: token counting / text cleanup at
/root/reference/scripts/ai/summarize_bills_federal.py:23-82.

All native string/array expressions — single scan, no shuffle, no UDF.
"""

from __future__ import annotations

import hashlib as _hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.exact import dec_sum
from ..functions.kernels import hash_bucket
from ..registry import register
from ..tables import load
from .dedup import sql_stable_round4, stable_round4, tokens

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_SW_SQL = "(" + ", ".join(f"'{w}'" for w in STOPWORDS) + ")"

# BPE-ish word/number/punct segmentation (public GPT-2-style shape,
# simplified to what both regex engines support identically)
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


@register(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
               AS n_word_tokens,
           CAST(len(regexp_extract_all(text, '{BPE_RE}')) AS BIGINT)
               AS n_bpe_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_measured
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace-word tokens + a BPE-ish regex segmentation
    (tiktoken stand-in, summarize_bills_federal.py:23-65)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("long").alias("n_word_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               regexp_extract_all(text, '[a-z0-9]+') AS toks
        FROM documents),
    m AS (
        SELECT doc_id,
               len(toks) AS n_tokens,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE length(array_to_string(toks, '')) * 1.0 / len(toks)
               END AS avg_token_len,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE len(list_filter(toks, x -> x IN {_SW_SQL})) * 1.0
                         / len(toks)
               END AS stopword_ratio,
               length(regexp_replace(text, '[a-z0-9 ]', '', 'g')) * 1.0
                   / greatest(length(text), 1) AS punct_ratio
        FROM t)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           {sql_stable_round4('avg_token_len')} AS avg_token_len,
           {sql_stable_round4('stopword_ratio')} AS stopword_ratio,
           {sql_stable_round4('punct_ratio')} AS punct_ratio,
           {sql_stable_round4("0.5 * least(n_tokens / 100.0, 1.0)"
                 " + 0.3 * least(stopword_ratio * 5.0, 1.0)"
                 " + 0.2 * (1.0 - punct_ratio)")} AS quality_score
    FROM m
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic document quality: length, stopword ratio (fluent text has
    function words), punctuation/noise ratio — the standard pre-training
    filter features, combined into one [0,1] score."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    n = F.size(toks)
    avg_len = F.when(n == 0, 0.0).otherwise(
        F.length(F.array_join(toks, "")) * 1.0 / n
    )
    sw = F.when(n == 0, 0.0).otherwise(
        F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS))) * 1.0 / n
    )
    punct = (
        F.length(F.regexp_replace("text", "[a-z0-9 ]", ""))
        * 1.0
        / F.greatest(F.length("text"), F.lit(1))
    )
    quality = (
        0.5 * F.least(n / 100.0, F.lit(1.0))
        + 0.3 * F.least(sw * 5.0, F.lit(1.0))
        + 0.2 * (1.0 - punct)
    )
    return d.select(
        "doc_id",
        n.cast("long").alias("n_tokens"),
        stable_round4(avg_len).alias("avg_token_len"),
        stable_round4(sw).alias("stopword_ratio"),
        stable_round4(punct).alias("punct_ratio"),
        stable_round4(quality).alias("quality_score"),
    )


LANG_MARKERS = {
    "en": ("the", "a", "of", "and"),
    "de": ("der", "die", "das", "und"),
    "fr": ("le", "la", "les", "et"),
    "es": ("el", "los", "las", "y"),
}


def _marker_count_sql(words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(regexp_extract_all(text, '[a-z0-9]+'), x -> x IN ({lst})))"


@register(
    "text_lang_id",
    oracle=f"""
    WITH s AS (
        SELECT doc_id, lang,
               {_marker_count_sql(LANG_MARKERS['en'])} AS c_en,
               {_marker_count_sql(LANG_MARKERS['de'])} AS c_de,
               {_marker_count_sql(LANG_MARKERS['fr'])} AS c_fr,
               {_marker_count_sql(LANG_MARKERS['es'])} AS c_es
        FROM documents)
    SELECT doc_id, lang AS labeled_lang,
           CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es AND c_en > 0
                THEN 'en'
                WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0 THEN 'de'
                WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
                WHEN c_es > 0 THEN 'es'
                ELSE 'und' END AS predicted_lang
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-stopword language ID (n-gram heuristic): count per-language
    function words, argmax with a fixed priority tie-break, 'und' when no
    marker fires. (The fixture text is synthetic word-salad, so the labeled
    lang column is kept alongside for comparison, not as ground truth the
    heuristic could recover.)"""
    d = load(spark, sf_dir, "documents")
    # Layered projections (round-10 optimization, same as ml_mcnemar_test):
    # one select would inline the tokenize regex into every filter lambda
    # and when-branch reference (~14 evals/row, HOFs run interpreted with
    # no CSE). Materialize toks, then the counts, as separate Projects —
    # regex once, each filter once. Values unchanged; oracle untouched.
    mt = d.select("doc_id", "lang", tokens(F.col("text")).alias("toks"))
    mc = mt.select(
        "doc_id",
        "lang",
        *[
            F.size(F.filter(F.col("toks"), lambda x: x.isin(*ws))).alias(
                f"c_{lang}"
            )
            for lang, ws in LANG_MARKERS.items()
        ],
    )
    c_en, c_de, c_fr, c_es = (
        F.col("c_en"),
        F.col("c_de"),
        F.col("c_fr"),
        F.col("c_es"),
    )
    pred = (
        F.when((c_en >= c_de) & (c_en >= c_fr) & (c_en >= c_es) & (c_en > 0), "en")
        .when((c_de >= c_fr) & (c_de >= c_es) & (c_de > 0), "de")
        .when((c_fr >= c_es) & (c_fr > 0), "fr")
        .when(c_es > 0, "es")
        .otherwise("und")
    )
    return mc.select(
        "doc_id", F.col("lang").alias("labeled_lang"), pred.alias("predicted_lang")
    )


@register(
    "text_fingerprint",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               list_sort(list_transform(
                   list_distinct(regexp_extract_all(text, '[a-z0-9]+')),
                   t -> md5(t))) AS hs
        FROM documents)
    SELECT doc_id,
           md5(array_to_string(hs[1:3], '')) AS fingerprint,
           CAST(len(hs) AS BIGINT) AS n_distinct_tokens
    FROM h
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k document fingerprint (rolling-hash/winnowing family): hash of
    the k smallest token hashes — stable under reordering and small edits."""
    d = load(spark, sf_dir, "documents")
    hs = F.array_sort(
        F.transform(F.array_distinct(tokens(F.col("text"))), lambda t: F.md5(t))
    )
    return d.select(
        "doc_id",
        F.md5(F.array_join(F.slice(hs, 1, 3), "")).alias("fingerprint"),
        F.size(hs).cast("long").alias("n_distinct_tokens"),
    )


@register(
    "text_gopher_filter",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, text,
               regexp_extract_all(text, '[a-z0-9]+') AS toks
        FROM documents),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE length(array_to_string(toks, '')) * 1.0 / len(toks)
               END AS mean_word_len,
               len(regexp_extract_all(text, '#|\\.\\.\\.')) * 1.0
                   / greatest(len(toks), 1) AS symbol_ratio,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                         * 1.0 / len(toks)
               END AS frac_alpha_words,
               len(list_distinct(list_filter(toks, x -> x IN {{sw}})))
                   AS n_stopwords_distinct
        FROM t)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           {{r4_mean}} AS mean_word_len,
           {{r4_sym}} AS symbol_ratio,
           {{r4_alpha}} AS frac_alpha_words,
           CAST(n_stopwords_distinct AS BIGINT) AS n_stopwords_distinct,
           (n_words BETWEEN 10 AND 1000) AND mean_word_len BETWEEN 2 AND 12
               AND symbol_ratio < 0.1 AND frac_alpha_words >= 0.7
               AND n_stopwords_distinct >= 2 AS passes,
           concat_ws(',',
               CASE WHEN NOT (n_words BETWEEN 10 AND 1000) THEN 'word_count' END,
               CASE WHEN NOT (mean_word_len BETWEEN 2 AND 12) THEN 'mean_word_len' END,
               CASE WHEN NOT (symbol_ratio < 0.1) THEN 'symbol_ratio' END,
               CASE WHEN NOT (frac_alpha_words >= 0.7) THEN 'alpha_words' END,
               CASE WHEN NOT (n_stopwords_distinct >= 2) THEN 'stopwords' END
           ) AS fail_reasons
    FROM m
    """.format(
        sw=_SW_SQL,
        r4_mean=sql_stable_round4("mean_word_len"),
        r4_sym=sql_stable_round4("symbol_ratio"),
        r4_alpha=sql_stable_round4("frac_alpha_words"),
    ),
)
def text_gopher_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule filter (Rae et al. 2021, table A1 — public
    paper): named pass/fail gates on word count, mean word length,
    symbol-to-word ratio (# and ellipses), alphabetic-word fraction and
    distinct-stopword presence, with the bounds scaled to the fixture's
    short synthetic docs (production: 50..100k words). Unlike
    text_quality_score (a blended score), this emits each gate verdict
    plus a 'fail_reasons' audit string — the form curation pipelines log
    so dropped-document rates are attributable per rule. All native
    expressions; concat_ws skips NULL CASE arms identically in both
    engines."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    d = d.select("doc_id", "text", toks.alias("__toks"))
    n = F.size("__toks")
    mean_len = F.when(n == 0, F.lit(0.0)).otherwise(
        F.length(F.array_join("__toks", "")) * 1.0 / n
    )
    sym = (
        F.size(F.regexp_extract_all("text", F.lit(r"#|\.\.\."), 0))
        * 1.0
        / F.greatest(n, F.lit(1))
    )
    alpha = F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.filter("__toks", lambda x: x.rlike("[a-z]"))) * 1.0 / n
    )
    nsw = F.size(
        F.array_distinct(F.filter("__toks", lambda x: x.isin(*STOPWORDS)))
    )
    m = d.select(
        "doc_id",
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        sym.alias("symbol_ratio"),
        alpha.alias("frac_alpha_words"),
        nsw.alias("n_stopwords_distinct"),
    )
    ok_words = F.col("n_words").between(10, 1000)
    ok_mean = F.col("mean_word_len").between(2, 12)
    ok_sym = F.col("symbol_ratio") < 0.1
    ok_alpha = F.col("frac_alpha_words") >= 0.7
    ok_stop = F.col("n_stopwords_distinct") >= 2
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        stable_round4(F.col("mean_word_len")).alias("mean_word_len"),
        stable_round4(F.col("symbol_ratio")).alias("symbol_ratio"),
        stable_round4(F.col("frac_alpha_words")).alias("frac_alpha_words"),
        F.col("n_stopwords_distinct").cast("long").alias("n_stopwords_distinct"),
        (ok_words & ok_mean & ok_sym & ok_alpha & ok_stop).alias("passes"),
        F.concat_ws(
            ",",
            F.when(~ok_words, "word_count"),
            F.when(~ok_mean, "mean_word_len"),
            F.when(~ok_sym, "symbol_ratio"),
            F.when(~ok_alpha, "alpha_words"),
            F.when(~ok_stop, "stopwords"),
        ).alias("fail_reasons"),
    )


@register(
    "text_html_strip",
    oracle="""
    WITH h AS (
        SELECT doc_id,
               '<p id="' || CAST(doc_id AS VARCHAR) || '"><b>' || text ||
               '</b><br/>&amp; from ' || source || '</p>' AS html
        FROM documents),
    s AS (
        SELECT doc_id,
               len(regexp_extract_all(html, '<[^>]*>')) AS n_tags,
               replace(replace(replace(replace(replace(
                   regexp_replace(html, '<[^>]*>', '', 'g'),
                   '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   '&quot;', '"'), '&nbsp;', ' ') AS stripped
        FROM h)
    SELECT doc_id, CAST(n_tags AS BIGINT) AS n_tags,
           md5(stripped) AS stripped_md5,
           CAST(length(stripped) AS BIGINT) AS n_chars_stripped
    FROM s
    """,
)
def text_html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-strip + entity-decode — the first transform every web-crawl
    ingest applies (the boilerplate-removal precursor). The fixture corpus
    is plain text, so the markup is SYNTHESIZED deterministically in-query
    (same concat on both engines) and then stripped: the parity check
    covers the actual strip/decode chain, not a no-op. Tag removal is one
    global regex; entities decode via a fixed replace chain (order
    matters: &amp; first would corrupt double-encoded text in real crawls
    — production uses a proper entity table, same plan shape). Pure
    projection: no shuffle, no UDF."""
    d = load(spark, sf_dir, "documents")
    html = F.concat(
        F.lit('<p id="'),
        F.col("doc_id").cast("string"),
        F.lit('"><b>'),
        F.col("text"),
        F.lit("</b><br/>&amp; from "),
        F.col("source"),
        F.lit("</p>"),
    )
    d = d.select("doc_id", html.alias("__html"))
    stripped = F.regexp_replace("__html", "<[^>]*>", "")
    for ent, ch in (
        ("&amp;", "&"), ("&lt;", "<"), ("&gt;", ">"),
        ("&quot;", '"'), ("&nbsp;", " "),
    ):
        stripped = F.replace(stripped, F.lit(ent), F.lit(ch))
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("__html", F.lit("<[^>]*>"), 0))
        .cast("long")
        .alias("n_tags"),
        F.md5(stripped).alias("stripped_md5"),
        F.length(stripped).cast("long").alias("n_chars_stripped"),
    )


# fixed stand-in weights for a trained quality classifier (fasttext-style);
# chosen so the fixture corpus splits non-trivially on the features
LOGREG_W = {"bias": -3.0, "n_words": 0.04, "alpha": 2.5, "stop": 0.35}


@register(
    "text_quality_logreg",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        FROM documents),
    m AS (
        SELECT doc_id,
               len(toks) AS n_words,
               CASE WHEN len(toks) = 0 THEN 0.0
                    ELSE len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
                         * 1.0 / len(toks) END AS frac_alpha,
               len(list_distinct(list_filter(toks, x -> x IN {_SW_SQL})))
                   AS n_stop
        FROM t),
    z AS (
        SELECT doc_id, n_words,
               {LOGREG_W["bias"]} + {LOGREG_W["n_words"]} * n_words
                   + {LOGREG_W["alpha"]} * frac_alpha
                   + {LOGREG_W["stop"]} * n_stop AS z
        FROM m)
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           {sql_stable_round4("1.0 / (1.0 + exp(-z))")} AS quality_prob,
           1.0 / (1.0 + exp(-z)) >= 0.5 AS keep
    FROM z
    """,
)
def text_quality_logreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a logistic regression over the native
    text features (token count, alphabetic fraction, stopword variety) —
    the shape of the fastText/classifier quality filter every modern
    curation pipeline runs after the rule gates (weights here are fixed
    stand-ins; a trained model drops in as a literal weight vector, the
    plan unchanged). Scoring is a pure projection — the 100 TB cost is
    one scan, zero shuffles, no UDF: the 'model' IS the Catalyst
    expression. The sigmoid's exp() goes through stable_round4 for
    engine-exact hashes; the keep decision compares the UNrounded
    probability identically on both sides."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    t = d.select("doc_id", toks.alias("__toks"))
    n = F.size("__toks")
    alpha = F.when(n == 0, F.lit(0.0)).otherwise(
        F.size(F.filter("__toks", lambda x: x.rlike("[a-z]"))) * 1.0 / n
    )
    nstop = F.size(
        F.array_distinct(F.filter("__toks", lambda x: x.isin(*STOPWORDS)))
    )
    m = t.select("doc_id", n.alias("n_words"), alpha.alias("frac_alpha"), nstop.alias("n_stop"))
    z = (
        F.lit(LOGREG_W["bias"])
        + F.lit(LOGREG_W["n_words"]) * F.col("n_words")
        + F.lit(LOGREG_W["alpha"]) * F.col("frac_alpha")
        + F.lit(LOGREG_W["stop"]) * F.col("n_stop")
    )
    prob = 1.0 / (1.0 + F.exp(-z))
    return m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        stable_round4(prob).alias("quality_prob"),
        (prob >= 0.5).alias("keep"),
    )


@register(
    "corpus_data_card",
    oracle="""
    WITH b AS (
        SELECT lang,
               CAST(length(bin(greatest(n_chars, 1))) AS BIGINT) AS len_bucket,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
                   AS toks
        FROM documents)
    SELECT lang, len_bucket,
           count(*) AS n_docs,
           CAST(sum(toks) AS BIGINT) AS total_tokens,
           floor((count(*) * 1.0 / sum(count(*)) OVER ()) * 10000.0 + 0.5)
               / 10000.0 AS doc_share
    FROM b GROUP BY lang, len_bucket
    """,
)
def corpus_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus data card: per (language × power-of-two length bucket) doc
    counts, token totals, and corpus share — the summary table a dataset
    card publishes (datasheet analogue of the reference's per-state report
    rollups).

    The bucket is ``length(bin(n_chars))`` = floor(log2)+1 computed in exact
    integer/string semantics — both engines binarize the integer identically,
    where a float ``log2`` could straddle a ULP on either side of a power of
    two. One map-side-combined aggregate over documents; the share
    normalization windows over the tiny (lang × bucket) aggregate (a
    single-partition window over dozens of rows, not the fact table)."""
    d = load(spark, sf_dir, "documents")
    b = d.select(
        "lang",
        F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1)))).cast("long")
        .alias("len_bucket"),
        F.size(tokens(F.col("text")))
        .cast("long")
        .alias("toks"),
    )
    g = b.groupBy("lang", "len_bucket").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("toks").alias("total_tokens"),
    )
    from pyspark.sql import Window as W

    share = F.col("n_docs") * 1.0 / F.sum("n_docs").over(W.partitionBy())
    return g.select(
        "lang",
        "len_bucket",
        "n_docs",
        "total_tokens",
        (F.floor(share * 10000.0 + 0.5) / 10000.0).alias("doc_share"),
    )


TOP_P_KEEP = 0.3  # keep the top 30% by quality, per language


def _quality_quantile_oracle() -> str:
    from ..registry import ORACLE

    pr = ("percent_rank() OVER (PARTITION BY d.lang"
          " ORDER BY q.quality_score, q.doc_id)")
    return f"""
    WITH q AS ({ORACLE["text_quality_score"]})
    SELECT q.doc_id, d.lang, q.quality_score,
           {sql_stable_round4(pr)} AS quality_pctile,
           {pr} >= {1.0 - TOP_P_KEEP} AS keep_top
    FROM q JOIN documents d ON q.doc_id = d.doc_id
    """


@register("text_quality_quantile", oracle=_quality_quantile_oracle())
def text_quality_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the quality score + top-p keep decision,
    per language — the rank-based form of quality filtering (absolute
    thresholds don't transfer across languages; percentile cuts do).

    Reuses the registered text_quality_score plan/oracle verbatim as a
    subquery, joins language back on, and ranks inside each language with
    a full (score, doc_id) tie-break so percent_rank is single-valued
    (total order -> no peers -> percent_rank = (rn-1)/(m-1), 0 when the
    language has one document — both engines' definition).

    Scale shape (round-10 partitioned-window sweep): the old docstring
    already conceded the problem ('for a skewed single-language corpus
    re-key on (lang, score-band)') — a PARTITION BY lang window puts
    English (half the corpus) in ONE task, and percent_rank's internal
    RankLike counters are IntegerType, wrapping past 2^31 docs/lang.
    grouped_bucket_rank IS the (lang, score-band) re-key, derived from
    broadcast offsets: LONG rank in (lang, bucket)-partitioned windows,
    percent_rank reconstructed from (rn, m); the gate cross-checks the
    closed form against DuckDB's native percent_rank."""
    from .prefix import grouped_bucket_rank

    q = text_quality_score(spark, sf_dir)
    d = load(spark, sf_dir, "documents").select("doc_id", "lang")
    rk = grouped_bucket_rank(
        q.join(d, "doc_id"), ["lang"], "quality_score", ["doc_id"]
    )
    pr = F.when(
        F.col("_m") > 1,
        (F.col("_rk") - 1) / (F.col("_m") - 1),
    ).otherwise(F.lit(0.0))
    return rk.select(
        "doc_id",
        "lang",
        "quality_score",
        stable_round4(pr).alias("quality_pctile"),
        (pr >= F.lit(1.0 - TOP_P_KEEP)).alias("keep_top"),
    )


@register("text_compression_ratio")
def text_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal (the RedPajama-2 / FineWeb family
    of corpus signals; gzip-ability separates natural prose from
    boilerplate and token-salad): raw UTF-8 byte length vs zlib-level-6
    deflate length, as an Arrow-batched pandas_udf over stdlib zlib.
    Rows-only: no SQL engine exposes deflate, and the byte count depends
    on the DEFLATE encoder — but it is deterministic for a fixed zlib
    (CPython bundles the same zlib everywhere), which the known-text unit
    tests pin (repetitive text < 0.3, high-entropy text ~1.0).

    Scale: pure map, shuffle-free, Arrow transfer both ways; the python
    kernel is bytes-in/ints-out so batch size, not row width, bounds
    memory — the same profile as the multimodal decode stubs."""
    import zlib

    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no type hints: the module's postponed annotations (PEP 563) would
    # reach pandas_udf as unresolvable strings
    @pandas_udf("struct<n_bytes: long, n_deflate: long>")
    def deflate_len(texts):
        raw = texts.fillna("").map(lambda t: t.encode("utf-8"))
        return pd.DataFrame(
            {
                "n_bytes": raw.map(len),
                "n_deflate": raw.map(lambda b: len(zlib.compress(b, 6))),
            }
        )

    d = load(spark, sf_dir, "documents")
    return (
        d.select("doc_id", deflate_len(F.col("text")).alias("z"))
        .select(
            "doc_id",
            F.col("z.n_bytes").alias("n_bytes"),
            F.col("z.n_deflate").alias("n_deflate"),
            stable_round4(
                F.when(F.col("z.n_bytes") == 0, F.lit(0.0)).otherwise(
                    F.col("z.n_deflate") * 1.0 / F.col("z.n_bytes")
                )
            ).alias("compression_ratio"),
        )
    )


@register(
    "fn_arrow_bytes_stats",
    oracle=r"""
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_utf8_bytes,
           CAST(length(regexp_replace(text, '[^\x00-\x7f]', '', 'g'))
                AS BIGINT) AS n_ascii_chars,
           CAST(length(text) AS BIGINT) AS n_chars_arrow
    FROM documents
    """,
)
def fn_arrow_bytes_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mapInArrow — §2.8 vehicle #7 (after pandas_udf, mapInPandas,
    applyInPandas, applyInPandasWithState, cogrouped applyInPandas, and
    the python UDTF): RecordBatches flow straight from the JVM into
    pyarrow.compute kernels with NO pandas materialization — the
    zero-copy path for columnar python logic (and the shape Arrow-native
    libraries like polars plug into). Kernels here: UTF-8 byte length,
    ASCII-only char count (via ascii classification), codepoint length —
    each cross-checked by a DuckDB string-function oracle.

    Scale: shuffle-free map; vs mapInPandas this skips the
    Arrow→pandas→Arrow conversions entirely, which at 100 TB is the
    difference between memory-bandwidth-bound and allocation-bound python
    stages."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it):
        for rb in it:
            t = rb.column(rb.schema.get_field_index("text"))
            raw = pc.binary_length(pc.cast(t, pa.binary()))
            # ascii chars = chars whose codepoint < 128: strip non-ascii
            # by replacing them with '' via regex on the utf8 type
            ascii_only = pc.replace_substring_regex(
                t, pattern=r"[^\x00-\x7f]", replacement=""
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    pc.cast(raw, pa.int64()),
                    pc.cast(pc.utf8_length(ascii_only), pa.int64()),
                    pc.cast(pc.utf8_length(t), pa.int64()),
                ],
                names=[
                    "doc_id", "n_utf8_bytes", "n_ascii_chars",
                    "n_chars_arrow",
                ],
            )

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(
        batches,
        schema=(
            "doc_id long, n_utf8_bytes long, n_ascii_chars long,"
            " n_chars_arrow long"
        ),
    )


# Per-term quantization scale for the quantize-then-sum ops (JSD, entropy,
# power-law alpha): each raw libm product is floored to an integer BEFORE
# the order-sensitive sum so parallel accumulation is order-independent.
# Boundary guard (ADVICE r3/r4): every JSD term carries the +0.5 MIDPOINT
# offset inside the floor, mirrored verbatim on both engines — a
# JVM-vs-libm ulp difference can then only flip a term when the true
# product sits within a ulp of a HALF-integer, which unlike the integer
# boundary is never hit exactly by the p==q → ln(1)=0 degenerate terms.
JSD_SCALE = 1_000_000_000  # per-term quantization (needs ln precision)


@register(
    "text_lang_jsd",
    oracle=f"""
    WITH tc AS (
        SELECT lang, t AS w, count(*) AS c
        FROM (SELECT lang, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS t
              FROM documents)
        GROUP BY lang, t),
    corpus AS (SELECT w, sum(c) AS cc FROM tc GROUP BY w),
    totals AS (SELECT lang, sum(c) AS lt FROM tc GROUP BY lang),
    ctot AS (SELECT sum(cc) AS ct FROM corpus),
    terms AS (
        SELECT tc.lang,
               tc.c * 1.0 / t.lt AS p,
               co.cc * 1.0 / x.ct AS q
        FROM tc JOIN totals t USING (lang)
                JOIN corpus co ON tc.w = co.w
                CROSS JOIN ctot x),
    contrib AS (
        SELECT lang,
               CAST(floor(0.5 * p * ln(2.0 * p / (p + q)) * {JSD_SCALE}
                          + 0.5) AS BIGINT)
               + CAST(floor(0.5 * q * ln(2.0 * q / (p + q)) * {JSD_SCALE}
                            + 0.5) AS BIGINT) AS tq
        FROM terms),
    missing AS (
        -- corpus-only mass: words absent from this lang still contribute
        -- 0.5*q*ln(2) each; equals 0.5*ln(2)*(1 - sum_present q)
        SELECT t.lang,
               CAST(floor(0.5 * ln(2.0) * (x.ct - sum(co.cc)) * 1.0 / x.ct
                          * {JSD_SCALE} + 0.5) AS BIGINT) AS mq
        FROM tc JOIN totals t USING (lang)
                JOIN corpus co ON tc.w = co.w
                CROSS JOIN ctot x
        GROUP BY t.lang, x.ct)
    SELECT c.lang,
           floor((sum(c.tq) + any_value(m.mq)) * 1.0 / {JSD_SCALE}
                 * 10000.0 + 0.5) / 10000.0 AS jsd_nats
    FROM contrib c JOIN missing m USING (lang)
    GROUP BY c.lang ORDER BY c.lang
    """,
)
def text_lang_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each language's unigram distribution
    from the whole-corpus distribution — the mixture-design diagnostic
    (high-JSD slices need their own sampling temperature; also the drift
    metric between corpus snapshots). Per-(lang,term) contributions are
    QUANTIZED to integers before the per-lang sum (entropy/RAKE
    discipline); the mass of corpus words ABSENT from a language —
    0.5·q·ln2 each — is folded in analytically as a single term instead
    of materializing the lang×vocab cross join.

    Scale: one (lang,term) aggregate (Zipf-compressed), two tiny
    broadcast totals; nothing touches lang×vocab."""
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    corpus = tc.groupBy("w").agg(F.sum("c").alias("cc"))
    totals = tc.groupBy("lang").agg(F.sum("c").alias("lt"))
    ctot = corpus.agg(F.sum("cc").alias("ct"))
    terms = (
        tc.join(F.broadcast(totals), "lang")
        .join(corpus, "w")
        .join(F.broadcast(ctot))
        .select(
            "lang",
            (F.col("c") * 1.0 / F.col("lt")).alias("p"),
            (F.col("cc") * 1.0 / F.col("ct")).alias("q"),
            "cc",
            "ct",
        )
    )
    tq = (
        F.floor(
            0.5 * F.col("p") * F.log(2.0 * F.col("p") / (F.col("p") + F.col("q")))
            * JSD_SCALE + 0.5
        ).cast("long")
        + F.floor(
            0.5 * F.col("q") * F.log(2.0 * F.col("q") / (F.col("p") + F.col("q")))
            * JSD_SCALE + 0.5
        ).cast("long")
    )
    contrib = terms.select("lang", tq.alias("tq"), "cc", "ct")
    present = (
        contrib.groupBy("lang")
        .agg(
            F.sum("tq").alias("stq"),
            F.sum("cc").alias("scc"),
            F.first("ct").alias("ct"),
        )
    )
    import math

    mq = F.floor(
        0.5 * math.log(2.0) * (F.col("ct") - F.col("scc")) * 1.0 / F.col("ct")
        * JSD_SCALE + 0.5
    ).cast("long")
    return present.select(
        "lang",
        (
            F.floor(
                (F.col("stq") + mq) * 1.0 / JSD_SCALE * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("jsd_nats"),
    ).orderBy("lang")


# --- fasttext-style quality classifier (deterministic linear model) -------

QC_BUCKETS = 4096      # feature-hash space for unigrams
QC_W_SPAN = 1000       # weights are integers in [-QC_W_SPAN, +QC_W_SPAN]


# The bucket -> weight table, materialized ONCE in Python with the same
# md5 derivation the oracle SQL spells out inline (hashlib.md5 == Spark
# md5 == DuckDB md5 on UTF-8 input, so values are bit-identical). Scoring
# then does ONE md5 per token (the feature hash — parity-pinned on both
# engines) plus an element_at into this 4096-int literal, instead of a
# second per-token md5 to derive the weight: measured 47.5 s -> 26.4 s on
# the sf10 150M-token corpus with zero value drift. This is also the
# honest shape of a TRAINED model: the weight array ships as a literal/
# broadcast and element_at is the lookup.
QC_WEIGHTS: tuple[int, ...] = tuple(
    int(_hashlib.md5(f"qcw_{b}".encode()).hexdigest()[:8], 16)
    % (2 * QC_W_SPAN + 1)
    - QC_W_SPAN
    for b in range(QC_BUCKETS)
)


def qc_weight(t):
    """Deterministic integer bucket weight in ±QC_W_SPAN (md5-derived
    table lookup; see QC_WEIGHTS)."""
    return F.element_at(
        F.lit(list(QC_WEIGHTS)), (hash_bucket(t, QC_BUCKETS) + 1).cast("int")
    )


def qc_sum_w(toks):
    """In-row exact-integer classifier logit numerator."""
    return F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + qc_weight(t)
    )


def sql_qc_sum_w(text_expr: str) -> str:
    """DuckDB twin of qc_sum_w over regexp-tokenized text."""
    return (
        "list_aggregate(list_transform("
        f"regexp_extract_all({text_expr}, '[a-z0-9]+'),"
        " t -> CAST(('0x' || substr(md5('qcw_' ||"
        " CAST(CAST(('0x' || substr(md5(t), 1, 8))"
        f" AS BIGINT) % {QC_BUCKETS} AS VARCHAR)),"
        " 1, 8)) AS BIGINT)"
        f" % (2 * {QC_W_SPAN} + 1) - {QC_W_SPAN}), 'sum')"
    )



@register(
    "text_classifier_score",
    oracle=f"""
    WITH feats AS (
        SELECT doc_id,
               list_aggregate(list_transform(
                   regexp_extract_all(text, '[a-z0-9]+'),
                   t -> CAST(('0x' || substr(md5('qcw_' ||
                            CAST(CAST(('0x' || substr(md5(t), 1, 8))
                                 AS BIGINT) % {QC_BUCKETS} AS VARCHAR)),
                            1, 8)) AS BIGINT)
                        % (2 * {QC_W_SPAN} + 1) - {QC_W_SPAN}), 'sum')
                   AS sum_w,
               len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens
        FROM documents)
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(sum_w AS BIGINT) AS sum_w,
           CASE WHEN n_tokens > 0 THEN {sql_stable_round4(
               f'1.0 / (1.0 + exp(-(sum_w * 1.0 / ({QC_W_SPAN}.0 * n_tokens))))'
           )} END AS quality_prob,
           (n_tokens > 0 AND sum_w >= 0) AS keep
    FROM feats
    """,
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style quality-classifier scoring — the linear
    bag-of-hashed-features model every web-corpus pipeline runs to keep
    "wiki-like" pages (CCNet / LLaMA-recipe style, public): each token
    feature-hashes into one of {QC_BUCKETS} buckets, each bucket carries a
    fixed weight, a document's logit is the mean bucket weight and the
    keep decision thresholds it at 0. Weights here are DERIVED (md5 of the
    bucket id → integer in ±{QC_W_SPAN}) rather than trained — the engine
    surface under test is the SCORING kernel: given any weight table, this
    is exactly the plan a trained model runs.

    Engine shape: pure per-row array math — tokenize, transform to integer
    weights, in-row integer fold. NO shuffle, NO explode, no weight table
    to broadcast even (the md5 derivation IS the lookup); with a real
    trained model the weight array broadcasts once and `element_at` does
    the lookup — same plan. The logit stays EXACT (integer sum / exact
    rational); only the final sigmoid is floating, stable-rounded with the
    same ulp-margin rationale as the xent family. The keep flag compares
    INTEGERS, so the decision boundary is engine-exact."""
    d = load(spark, sf_dir, "documents")
    # layered projection (round-10, same class as ml_mcnemar_test): one
    # select evaluated the tokenize regex twice per row (size + the fold's
    # array argument); materialize toks once, then consume it twice as a
    # cheap column reference
    out = d.select(
        "doc_id", tokens(F.col("text")).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("long").alias("n_tokens"),
        qc_sum_w(F.col("toks")).alias("sum_w"),
    )
    margin = F.col("sum_w") * 1.0 / (float(QC_W_SPAN) * F.col("n_tokens"))
    return out.select(
        "doc_id",
        "n_tokens",
        "sum_w",
        F.when(
            F.col("n_tokens") > 0,
            stable_round4(1.0 / (1.0 + F.exp(-margin))),
        ).alias("quality_prob"),
        ((F.col("n_tokens") > 0) & (F.col("sum_w") >= 0)).alias("keep"),
    )


def _register_lang_id_eval() -> None:
    from ..registry import ORACLE, QUERIES

    base_sql = ORACLE["text_lang_id"]

    @register(
        "text_lang_id_eval",
        oracle=f"""
        WITH pred AS ({base_sql}),
        cm AS (
            SELECT labeled_lang, predicted_lang, count(*) AS n
            FROM pred GROUP BY 1, 2),
        t AS (
            SELECT sum(n) AS tot,
                   sum(CASE WHEN labeled_lang = predicted_lang
                            THEN n ELSE 0 END) AS hits
            FROM cm)
        SELECT cm.labeled_lang, cm.predicted_lang,
               CAST(cm.n AS BIGINT) AS n,
               floor(cm.n * 1.0 / t.tot * 10000.0 + 0.5) / 10000.0
                   AS cell_share,
               floor(t.hits * 1.0 / t.tot * 10000.0 + 0.5) / 10000.0
                   AS overall_accuracy
        FROM cm CROSS JOIN t
        """,
    )
    def text_lang_id_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Confusion matrix + accuracy of the marker-stopword language
        identifier against the labeled lang column — the eval leg every
        classifier in the curation pipeline needs next to its predict leg
        (text_classifier_score ships the same pairing via its threshold
        sweep). One aggregation over the predict output; the 1-row
        accuracy total broadcasts back onto the (|langs|²-bounded)
        matrix. Built ON the registered predict operator, so the two can
        never drift apart."""
        from .dedup import stable_round4

        pred = QUERIES["text_lang_id"](spark, sf_dir)
        cm = pred.groupBy("labeled_lang", "predicted_lang").agg(
            F.count(F.lit(1)).alias("n")
        )
        t = cm.agg(
            F.sum("n").alias("tot"),
            F.sum(
                F.when(
                    F.col("labeled_lang") == F.col("predicted_lang"),
                    F.col("n"),
                ).otherwise(0)
            ).alias("hits"),
        )
        return cm.join(F.broadcast(t)).select(
            "labeled_lang",
            "predicted_lang",
            F.col("n").cast("long").alias("n"),
            stable_round4(F.col("n") * 1.0 / F.col("tot")).alias(
                "cell_share"
            ),
            stable_round4(F.col("hits") * 1.0 / F.col("tot")).alias(
                "overall_accuracy"
            ),
        )


_register_lang_id_eval()


# ---------------------------------------------------------------------------
# text_readability — Flesch reading ease / FK grade from exact counts
# ---------------------------------------------------------------------------

SYLL_RE = "[aeiouy]+"   # syllable ~ maximal vowel group (house heuristic)
SENT_RE = "[.!?]+"      # sentence terminator runs

# Shared formula strings evaluated verbatim by BOTH engines over the exact
# integer counts (w = words, s = sentences, y = syllables, each floored to
# 1): identical IEEE mul/add/div sequences, then stable_round4.
_FLESCH = (
    "206.835 - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
    " - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))"
)
_FKGRADE = (
    "0.39 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))"
    " + 11.8 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE)) - 15.59"
)


@register(
    "text_readability",
    oracle=f"""
    WITH c AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '[a-z0-9]+')) AS n_words,
               len(regexp_extract_all(text, '{SYLL_RE}')) AS n_syllables,
               len(regexp_extract_all(text, '{SENT_RE}')) AS n_sentences
        FROM documents),
    f AS (
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_syllables AS BIGINT) AS n_syllables,
               CAST(n_sentences AS BIGINT) AS n_sentences,
               greatest(n_words, 1) AS w,
               greatest(n_sentences, 1) AS s,
               n_syllables AS y
        FROM c)
    SELECT doc_id, n_words, n_syllables, n_sentences,
           {sql_stable_round4(_FLESCH)} AS flesch_ease,
           {sql_stable_round4(_FKGRADE)} AS fk_grade
    FROM f
    ORDER BY doc_id
    """,
)
def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (Flesch 1948 reading ease; Kincaid et al. 1975
    grade level) — the classic curation signal next to text_quality_score:
    fluent prose scores mid-range, keyword-stuffed or boilerplate text
    scores at the extremes, and a grade-level band is a standard corpus
    filter (e.g. keep 3 <= FK grade <= 16).

    Both formulas need only three exact integer counts per document —
    words (house tokenizer regex), sentences (terminator runs), and
    syllables, approximated as maximal vowel-group runs '{SYLL_RE}' (the
    standard dictionary-free heuristic; fixture text is already
    lowercase). The rational words-per-sentence and syllables-per-word
    ratios go through the SAME formula string in Spark and DuckDB
    (identical IEEE operation sequence), then stable_round4 — the house
    discipline for rationals of exact integers. Zero-word / zero-sentence
    docs are floored to 1 in the ratios only; the raw counts stay honest.

    Scale shape: one projection over the documents scan — three regexp
    counts per row, no shuffle, no UDF, fully whole-stage-codegen. The
    ORDER BY is presentation-only (the driver canonicalizes); at 100 TB
    this is a map-only pass that pushes the doc_id/text column pruning
    into the parquet scan.
    """
    d = load(spark, sf_dir, "documents")
    c = d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_words"),
        F.size(F.regexp_extract_all("text", F.lit(SYLL_RE), 0)).alias(
            "n_syllables"
        ),
        F.size(F.regexp_extract_all("text", F.lit(SENT_RE), 0)).alias(
            "n_sentences"
        ),
    )
    f = c.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_syllables").cast("long").alias("n_syllables"),
        F.col("n_sentences").cast("long").alias("n_sentences"),
        F.greatest("n_words", F.lit(1)).alias("w"),
        F.greatest("n_sentences", F.lit(1)).alias("s"),
        F.col("n_syllables").alias("y"),
    )
    return f.select(
        "doc_id",
        "n_words",
        "n_syllables",
        "n_sentences",
        stable_round4(F.expr(_FLESCH)).alias("flesch_ease"),
        stable_round4(F.expr(_FKGRADE)).alias("fk_grade"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# text_tokenizer_fertility — per-language tokenizer efficiency audit
# ---------------------------------------------------------------------------


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH c AS (
        SELECT lang,
               len(regexp_extract_all(text, '[a-z0-9]+')) AS w,
               len(regexp_extract_all(text, '{BPE_RE}')) AS t,
               length(text) AS ch
        FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(w) AS BIGINT) AS n_words,
           CAST(sum(t) AS BIGINT) AS n_bpe_tokens,
           CAST(sum(ch) AS BIGINT) AS n_chars,
           {sql_stable_round4(
               "CAST(sum(t) AS DOUBLE) / CAST(greatest(sum(w), 1) AS DOUBLE)"
           )} AS fertility,
           {sql_stable_round4(
               "CAST(sum(ch) AS DOUBLE) / CAST(greatest(sum(t), 1) AS DOUBLE)"
           )} AS chars_per_token
    FROM c GROUP BY lang
    ORDER BY lang
    """,
)
def text_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility audit per language — tokens-per-word and
    chars-per-token of the BPE-ish segmentation, the standard multilingual
    tokenizer-efficiency report (fertility ≫ 1 for a language means its
    text costs disproportionate sequence length, the metric driving
    vocabulary-allocation decisions in multilingual pretraining; see e.g.
    Rust et al., ACL 2021, "How Good is Your Tokenizer?"). Complements
    text_token_count (per-doc counts) with the per-language corpus roll-up
    that the mixing stage (mix_temperature_weights) consumes.

    Exactness: three integer counts per doc, summed exactly; the two
    ratios are rationals of exact integers through stable_round4 with a
    greatest(·,1) floor — the house discipline.

    Scale shape: one map pass (three regexp counts) collapsed by a
    map-side partial aggregate into |langs| rows; the only shuffle
    carries one row per language. Scan prunes to (lang, text).
    """
    d = load(spark, sf_dir, "documents")
    c = d.select(
        "lang",
        F.size(tokens(F.col("text"))).alias("w"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)).alias("t"),
        F.length("text").alias("ch"),
    )
    g = c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("w").cast("long").alias("n_words"),
        F.sum("t").cast("long").alias("n_bpe_tokens"),
        F.sum("ch").cast("long").alias("n_chars"),
    )
    return g.select(
        "lang",
        "n_docs",
        "n_words",
        "n_bpe_tokens",
        "n_chars",
        stable_round4(
            F.col("n_bpe_tokens").cast("double")
            / F.greatest("n_words", F.lit(1)).cast("double")
        ).alias("fertility"),
        stable_round4(
            F.col("n_chars").cast("double")
            / F.greatest("n_bpe_tokens", F.lit(1)).cast("double")
        ).alias("chars_per_token"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# text_distinct_ngrams — distinct-1 / distinct-2 diversity metrics
# ---------------------------------------------------------------------------


@register(
    "text_distinct_ngrams",
    oracle="""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS toks
        FROM documents),
    m AS (
        SELECT doc_id,
               len(toks) AS n_toks,
               len(list_distinct(toks)) AS d1,
               CASE WHEN len(toks) >= 2 THEN len(list_distinct(
                   list_transform(generate_series(1, len(toks) - 1),
                                  i -> toks[i] || ' ' || toks[i + 1])))
                    ELSE 0 END AS d2
        FROM t WHERE len(toks) > 0)
    SELECT doc_id,
           CAST(n_toks AS BIGINT) AS n_toks,
           CAST(d1 AS BIGINT) AS distinct_unigrams,
           CAST(d2 AS BIGINT) AS distinct_bigrams,
           floor((CAST(d1 AS DOUBLE) / CAST(n_toks AS DOUBLE))
                 * 10000.0 + 0.5) / 10000.0 AS distinct1,
           floor((CAST(d2 AS DOUBLE) / CAST(greatest(n_toks - 1, 1)
                 AS DOUBLE)) * 10000.0 + 0.5) / 10000.0 AS distinct2
    FROM m
    ORDER BY doc_id
    """,
)
def text_distinct_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-n diversity metrics (Li et al., NAACL 2016 — distinct-1 /
    distinct-2): the share of unigram and bigram slots occupied by UNIQUE
    n-grams per document. THE standard degeneracy screen for generated
    text (repetition loops crater distinct-2 long before humans notice),
    complementing text_repetition_stats (longest run) with the ratio form
    model-eval reports quote; over a training corpus it is the diversity
    gate next to quality/gopher scoring.

    Exactness: pure integer counts from one array projection —
    array_distinct on the token array and on the adjacent-bigram
    transform — and two rationals through the stable_round4 form with
    the (n−1) floor. No shuffle, no UDF, no join.

    Scale shape: map-only over the documents scan (the text_readability
    shape); the n-gram arrays never leave their row, so memory is
    bounded by document length, not corpus size.
    """
    d = load(spark, sf_dir, "documents")
    t = d.select("doc_id", tokens(F.col("text")).alias("toks")).filter(
        F.size("toks") > 0
    )
    n = F.size("toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.concat_ws(
            " ",
            F.element_at(F.col("toks"), i),
            F.element_at(F.col("toks"), i + 1),
        ),
    )
    m = t.select(
        "doc_id",
        n.alias("n_toks"),
        F.size(F.array_distinct("toks")).alias("d1"),
        F.when(n >= 2, F.size(F.array_distinct(bigrams)))
        .otherwise(0)
        .alias("d2"),
    )
    return m.select(
        "doc_id",
        F.col("n_toks").cast("long").alias("n_toks"),
        F.col("d1").cast("long").alias("distinct_unigrams"),
        F.col("d2").cast("long").alias("distinct_bigrams"),
        stable_round4(
            F.col("d1").cast("double") / F.col("n_toks").cast("double")
        ).alias("distinct1"),
        stable_round4(
            F.col("d2").cast("double")
            / F.greatest(F.col("n_toks") - 1, F.lit(1)).cast("double")
        ).alias("distinct2"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# text_zipf_fit — rank-frequency power-law exponent of the corpus vocab
# --------------------------------------------------------------------------

ZIPF_TOP = 500  # head of the rank-frequency curve the line is fit to
ZIPF_LN_SCALE = 1_000_000

# OLS of y = ln(freq) on x = ln(rank) over quantized-ln integer points:
_ZF_COV = "(n * sxy - sx * sy)"
_ZF_VARX = "(n * sxx - sx * sx)"
_ZF_SLOPE = f"({_ZF_COV} / {_ZF_VARX})"
_ZF_INTERCEPT = f"((sy - {_ZF_SLOPE} * sx) / n)"
_ZF_R2 = f"({_ZF_COV} * {_ZF_COV} / ({_ZF_VARX} * (n * syy - sy * sy)))"


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH tc AS (
        SELECT tok, count(*) AS cnt
        FROM (SELECT unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
              FROM documents)
        GROUP BY 1),
    rk AS (
        SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS r
        FROM tc),
    pts AS (
        SELECT CAST(floor(ln(r) * {ZIPF_LN_SCALE}) AS BIGINT) AS qx,
               CAST(floor(ln(cnt) * {ZIPF_LN_SCALE}) AS BIGINT) AS qy
        FROM rk WHERE r <= {ZIPF_TOP}),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(qx AS HUGEINT)) AS DOUBLE) / 1e6 AS sx,
               CAST(sum(CAST(qy AS HUGEINT)) AS DOUBLE) / 1e6 AS sy,
               CAST(sum(CAST(qx * qx AS HUGEINT)) AS DOUBLE) / 1e12 AS sxx,
               CAST(sum(CAST(qx * qy AS HUGEINT)) AS DOUBLE) / 1e12 AS sxy,
               CAST(sum(CAST(qy * qy AS HUGEINT)) AS DOUBLE) / 1e12 AS syy
        FROM pts)
    SELECT CAST(n AS BIGINT) AS n_terms,
           {sql_stable_round4(f'(0.0 - {_ZF_SLOPE})')} AS zipf_exponent,
           {sql_stable_round4(_ZF_INTERCEPT)} AS ln_c_intercept,
           {sql_stable_round4(_ZF_R2)} AS r2
    FROM st
    """,
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus rank-frequency curve: OLS of
    ln(freq) on ln(rank) for the top {ZIPF_TOP} vocabulary terms; the
    NEGATED slope is the Zipf exponent (~1 for natural language —
    Zipf 1949; Piantadosi 2014 for the modern treatment) and r2 says how
    power-law the head actually is. A corpus whose exponent drifts far
    from 1 (too flat = boilerplate/ID spam, too steep = tiny effective
    vocabulary) fails the language-likeness gate — the corpus-level
    companion of the per-doc text_repetition_stats / text_distinct_ngrams
    screens.

    Determinism: ranks come from a full (cnt DESC, tok) tie-broken
    window; both ln terms are quantized floor(ln * 1e6) on exact
    integers BEFORE any summation (ln of identical integers is
    bit-identical across engines — the events_type_entropy discipline),
    so the six OLS sufficient statistics are exact integer sums; the
    slope/intercept/r2 strings are interpolated verbatim into both
    engines, stable_round4 at the end.

    Scale shape: one token shuffle to vocabulary counts (map-side
    combined), a top-{ZIPF_TOP} rank window over the vocab relation
    (WindowGroupLimit prunes it to a per-partition top-k before the
    single-partition sort), then a 1-row aggregate over {ZIPF_TOP}
    points. The fact-table cost is exactly one tokenize+explode pass.
    """
    d = load(spark, sf_dir, "documents")
    tc = (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window as _W

    # Two-level top-k (the agg_kmv_sketch shape): a bare global window
    # would serialize the whole vocabulary through one sort task. Level 1
    # prunes to ZIPF_TOP rows per physical partition IN PARALLEL under
    # the same total order (top-k is mergeable), level 2 ranks only the
    # <= ZIPF_TOP * n_parts survivors.
    lvl1 = (
        tc.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "rk1",
            F.row_number().over(
                _W.partitionBy("pid").orderBy(
                    F.col("cnt").desc(), F.col("tok")
                )
            ),
        )
        .filter(F.col("rk1") <= ZIPF_TOP)
    )
    rk = lvl1.select(
        "cnt",
        F.row_number()
        .over(_W.orderBy(F.col("cnt").desc(), F.col("tok")))
        .alias("r"),
    ).filter(F.col("r") <= ZIPF_TOP)
    pts = rk.select(
        F.floor(F.log(F.col("r")) * ZIPF_LN_SCALE)
        .cast("long")
        .alias("qx"),
        F.floor(F.log(F.col("cnt")) * ZIPF_LN_SCALE)
        .cast("long")
        .alias("qy"),
    )

    st = pts.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum("qx", 1e6).alias("sx"),
        dec_sum("qy", 1e6).alias("sy"),
        dec_sum("qx * qx", 1e12).alias("sxx"),
        dec_sum("qx * qy", 1e12).alias("sxy"),
        dec_sum("qy * qy", 1e12).alias("syy"),
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_terms",
        f"CAST({sql_stable_round4(f'(0.0 - {_ZF_SLOPE})')} AS DOUBLE)"
        " AS zipf_exponent",
        f"CAST({sql_stable_round4(_ZF_INTERCEPT)} AS DOUBLE)"
        " AS ln_c_intercept",
        f"CAST({sql_stable_round4(_ZF_R2)} AS DOUBLE) AS r2",
    )


# --------------------------------------------------------------------------
# text_heaps_fit — vocabulary-growth (Heaps' law) exponent of the corpus
# --------------------------------------------------------------------------

HEAPS_BUCKET = 64  # doc-axis bucket width for the two-level prefix scan


@register(
    "text_heaps_fit",
    oracle=f"""
    WITH dt AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        FROM documents),
    nd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
           FROM dt GROUP BY 1),
    fd AS (SELECT tok, min(doc_id) AS fdoc FROM dt GROUP BY 1),
    incr AS (SELECT fdoc, CAST(count(*) AS BIGINT) AS v_new
             FROM fd GROUP BY 1),
    axis AS (
        SELECT doc_id, n_toks, coalesce(v_new, 0) AS v_new
        FROM nd LEFT JOIN incr ON fdoc = doc_id),
    cum AS (
        SELECT sum(n_toks) OVER (ORDER BY doc_id) AS ct,
               sum(v_new) OVER (ORDER BY doc_id) AS cv
        FROM axis),
    pts AS (
        SELECT CAST(floor(ln(ct) * {ZIPF_LN_SCALE}) AS BIGINT) AS qx,
               CAST(floor(ln(cv) * {ZIPF_LN_SCALE}) AS BIGINT) AS qy
        FROM cum WHERE ct > 0 AND cv > 0),
    st AS (
        SELECT CAST(count(*) AS DOUBLE) AS n,
               CAST(sum(CAST(qx AS HUGEINT)) AS DOUBLE) / 1e6 AS sx,
               CAST(sum(CAST(qy AS HUGEINT)) AS DOUBLE) / 1e6 AS sy,
               CAST(sum(CAST(qx * qx AS HUGEINT)) AS DOUBLE) / 1e12 AS sxx,
               CAST(sum(CAST(qx * qy AS HUGEINT)) AS DOUBLE) / 1e12 AS sxy,
               CAST(sum(CAST(qy * qy AS HUGEINT)) AS DOUBLE) / 1e12 AS syy
        FROM pts)
    SELECT CAST(n AS BIGINT) AS n_points,
           {sql_stable_round4(_ZF_SLOPE)} AS heaps_beta,
           {sql_stable_round4(_ZF_INTERCEPT)} AS ln_k_intercept,
           {sql_stable_round4(_ZF_R2)} AS r2
    FROM st
    """,
)
def text_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit V(n) ~ K * n^beta over the corpus vocabulary-growth
    curve (Heaps 1978; the dual of text_zipf_fit's rank-frequency law):
    OLS of ln(cumulative vocabulary) on ln(cumulative tokens) along the
    deterministic doc_id reading order. beta ~ 0.4-0.6 for natural
    language; beta near 1 means the vocabulary never saturates (ID/hash
    spam), beta near 0 a tiny closed vocabulary — the corpus-growth
    companion of the Zipf language-likeness gate, and the statistic that
    sizes tokenizer vocabularies ahead of a BPE train.

    Each document contributes one (ln n, ln V) point: V grows by the
    count of token types whose FIRST occurrence lands in that doc
    (min-doc_id per type), so the curve needs no per-token dedup state —
    just two grouped aggregates and a prefix sum over the doc axis.

    Determinism: both cumulative counts are exact integers; ln is
    quantized floor(ln * 1e6) per point BEFORE summation (ln of equal
    integers is bit-identical across engines — the text_zipf_fit
    discipline); the OLS strings are the zipf ones verbatim.

    Scale shape: one tokenize+explode pass feeds both grouped
    aggregates (map-side combined); the prefix sum runs as the
    TWO-LEVEL distributed scan (ml_sprt_ab pattern) — per-bucket
    partials, an exclusive bucket prefix broadcast back, in-bucket
    windows — so no doc-axis relation ever serializes through one
    sort task. The OLS reduce is a 1-row aggregate.
    """
    from pyspark.sql import Window as _W

    d = load(spark, sf_dir, "documents")
    dt = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    nd = dt.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_toks"))
    incr = (
        dt.groupBy("tok")
        .agg(F.min("doc_id").alias("fdoc"))
        .groupBy("fdoc")
        .agg(F.count("*").cast("long").alias("v_new"))
    )
    axis = (
        nd.join(incr, nd.doc_id == incr.fdoc, "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("v_new", F.lit(0)).alias("v_new"),
            F.expr(f"doc_id div {HEAPS_BUCKET}").alias("b"),
        )
    )
    bagg = axis.groupBy("b").agg(
        F.sum("n_toks").alias("bt"), F.sum("v_new").alias("bv")
    )
    wpre = _W.orderBy("b").rowsBetween(_W.unboundedPreceding, -1)
    bpre = bagg.select(
        "b",
        F.coalesce(F.sum("bt").over(wpre), F.lit(0)).alias("pre_t"),
        F.coalesce(F.sum("bv").over(wpre), F.lit(0)).alias("pre_v"),
    )
    win = (
        _W.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(_W.unboundedPreceding, 0)
    )
    cum = axis.join(F.broadcast(bpre), "b").select(
        (F.col("pre_t") + F.sum("n_toks").over(win)).alias("ct"),
        (F.col("pre_v") + F.sum("v_new").over(win)).alias("cv"),
    )
    pts = cum.filter((F.col("ct") > 0) & (F.col("cv") > 0)).select(
        F.floor(F.log(F.col("ct")) * ZIPF_LN_SCALE).cast("long").alias("qx"),
        F.floor(F.log(F.col("cv")) * ZIPF_LN_SCALE).cast("long").alias("qy"),
    )

    st = pts.agg(
        F.count("*").cast("double").alias("n"),
        dec_sum("qx", 1e6).alias("sx"),
        dec_sum("qy", 1e6).alias("sy"),
        dec_sum("qx * qx", 1e12).alias("sxx"),
        dec_sum("qx * qy", 1e12).alias("sxy"),
        dec_sum("qy * qy", 1e12).alias("syy"),
    )
    return st.selectExpr(
        "CAST(n AS BIGINT) AS n_points",
        f"CAST({sql_stable_round4(_ZF_SLOPE)} AS DOUBLE) AS heaps_beta",
        f"CAST({sql_stable_round4(_ZF_INTERCEPT)} AS DOUBLE)"
        " AS ln_k_intercept",
        f"CAST({sql_stable_round4(_ZF_R2)} AS DOUBLE) AS r2",
    )


# --------------------------------------------------------------------------
# text_term_burstiness — Church-Gale term dispersion (content vs function)
# --------------------------------------------------------------------------

BURST_MIN_DF = 5   # document-frequency floor
BURST_TOPK = 20

# mean within-doc tf of containing docs, and the Fano factor (variance/
# mean of tf over containing docs) — both exact-integer ratios:
_BU_MEAN = "(stf / df)"
_BU_FANO = "((df * stf2 - stf * stf) / (df * stf))"


@register(
    "text_term_burstiness",
    oracle=f"""
    WITH dt AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        FROM documents),
    tc AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM dt GROUP BY 1, 2),
    ts AS (
        SELECT tok,
               CAST(count(*) AS DOUBLE) AS df,
               CAST(sum(CAST(tf AS HUGEINT)) AS DOUBLE) AS stf,
               CAST(sum(CAST(tf * tf AS HUGEINT)) AS DOUBLE) AS stf2
        FROM tc GROUP BY 1),
    f AS (SELECT * FROM ts WHERE df >= {BURST_MIN_DF}),
    rk AS (
        SELECT tok, df, stf, stf2,
               row_number() OVER (ORDER BY stf / df DESC, tok) AS rk
        FROM f)
    SELECT CAST(rk AS INT) AS rk, tok AS term,
           CAST(df AS BIGINT) AS doc_freq,
           CAST(stf AS BIGINT) AS total_tf,
           {sql_stable_round4(_BU_MEAN)} AS burstiness,
           {sql_stable_round4(_BU_FANO)} AS fano_factor
    FROM rk WHERE rk <= {BURST_TOPK} ORDER BY rk
    """,
)
def text_term_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term burstiness (Church & Gale 1995): a term's mean within-doc
    frequency over the documents that CONTAIN it, plus the Fano factor
    (variance/mean of that per-doc frequency). Function words spread
    thin (burstiness ~ corpus average, Fano ~ Poisson 1); content/topic
    words clump — a doc either ignores them or repeats them (high
    burstiness, overdispersed Fano >> 1). The top-{BURST_TOPK} burstiest
    terms with df >= {BURST_MIN_DF} are the corpus's topical signature —
    the term-level dual of text_repetition_stats' per-doc screen, and
    the dispersion evidence behind keyword/stopword splits.

    Determinism: (df, stf, stf2) are exact DECIMAL/HUGEINT sums; the
    ranking key stf/df is one IEEE division of exactly-represented
    integers (identical on both engines) tie-broken by term;
    stable_round4 on the two reported rationals.

    Scale shape: tokenize -> (doc, term) counts (map-side combined;
    the shuffle carries distinct doc-term pairs, the tf-idf lesson) ->
    term-level moments -> df floor prunes the tail BEFORE ranking ->
    two-level top-k (per-partition row_number prune under the same
    total order, then the global rank over <= {BURST_TOPK} * n_parts
    survivors) — no full-vocabulary single-task sort.
    """
    from pyspark.sql import Window as _W

    d = load(spark, sf_dir, "documents")
    dt = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    tc = dt.groupBy("doc_id", "tok").agg(
        F.count("*").cast("long").alias("tf")
    )
    ts = tc.groupBy("tok").agg(
        F.count("*").cast("double").alias("df"),
        dec_sum("tf").alias("stf"),
        dec_sum("CAST(tf AS DECIMAL(38,0)) * tf").alias("stf2"),
    )
    f = ts.filter(F.col("df") >= BURST_MIN_DF)
    key = F.col("stf") / F.col("df")
    lvl1 = (
        f.withColumn("pid", F.spark_partition_id())
        .withColumn(
            "rk1",
            F.row_number().over(
                _W.partitionBy("pid").orderBy(key.desc(), F.col("tok"))
            ),
        )
        .filter(F.col("rk1") <= BURST_TOPK)
    )
    rk = lvl1.withColumn(
        "rk", F.row_number().over(_W.orderBy(key.desc(), F.col("tok")))
    ).filter(F.col("rk") <= BURST_TOPK)
    return rk.selectExpr(
        "CAST(rk AS INT) AS rk",
        "tok AS term",
        "CAST(df AS BIGINT) AS doc_freq",
        "CAST(stf AS BIGINT) AS total_tf",
        f"CAST({sql_stable_round4(_BU_MEAN)} AS DOUBLE) AS burstiness",
        f"CAST({sql_stable_round4(_BU_FANO)} AS DOUBLE) AS fano_factor",
    ).orderBy("rk")


# --------------------------------------------------------------------------
# text_code_detect — code-vs-prose lexicon classifier
# --------------------------------------------------------------------------

# The RedPajama/StarCoder-style code-detection heuristic is a lexicon
# ratio: share of tokens drawn from a code/ops vocabulary vs function
# words. The fixture corpus is synthetic word-salad, so the lexicon is
# the corpus's own systems vocabulary — same classifier shape, real
# token statistics.
CODE_LEXICON = ("scan", "hash", "merge", "sort", "filter", "query",
                "vector", "join")
PROSE_LEXICON = ("a", "the", "of", "and")

# integer threshold: code-like iff code tokens are >= 20% of all tokens
# (5 * code >= n) — an exact integer comparison in both engines.
CODE_RATIO_DEN = 5


@register(
    "text_code_detect",
    oracle=f"""
    WITH s AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '[a-z0-9]+')) AS BIGINT)
                   AS n_tokens,
               CAST({_marker_count_sql(CODE_LEXICON)} AS BIGINT)
                   AS code_tokens,
               CAST({_marker_count_sql(PROSE_LEXICON)} AS BIGINT)
                   AS prose_tokens
        FROM documents)
    SELECT doc_id, n_tokens, code_tokens, prose_tokens,
           CASE WHEN n_tokens = 0 THEN 0.0
                ELSE {sql_stable_round4('(code_tokens * 1.0 / n_tokens)')}
           END AS code_ratio,
           n_tokens > 0 AND {CODE_RATIO_DEN} * code_tokens >= n_tokens
               AS is_code_like
    FROM s
    """,
)
def text_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose document classifier (the lexicon-ratio heuristic
    used by corpus-curation filters a la Gopher/RedPajama rules): share
    of tokens from a code/systems vocabulary, flagged code-like above a
    fixed ratio threshold — the gate a pretraining mix uses to route
    documents to a code pipeline vs a prose pipeline.

    Determinism: token counts are exact integers from the shared
    tokenizer regex; the flag is an integer cross-multiplication
    (5*code >= n), never a float compare; the reported ratio is one
    division, stable_round4, with an explicit n=0 guard in both
    engines.

    Scale shape: embarrassingly parallel per-document map over one scan
    (doc_id, text) — no shuffle at all; the lexicon membership is a
    literal IN-list evaluated inside whole-stage codegen.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def marker_count(ws):
        return F.size(F.filter(toks, lambda x: x.isin(*ws))).cast("long")

    s = d.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        marker_count(CODE_LEXICON).alias("code_tokens"),
        marker_count(PROSE_LEXICON).alias("prose_tokens"),
    )
    return s.select(
        "doc_id",
        "n_tokens",
        "code_tokens",
        "prose_tokens",
        F.when(F.col("n_tokens") == 0, F.lit(0.0))
        .otherwise(
            F.expr(
                "CAST("
                + sql_stable_round4("(code_tokens * 1.0 / n_tokens)")
                + " AS DOUBLE)"
            )
        )
        .alias("code_ratio"),
        (
            (F.col("n_tokens") > 0)
            & (F.lit(CODE_RATIO_DEN) * F.col("code_tokens")
               >= F.col("n_tokens"))
        ).alias("is_code_like"),
    )


# --------------------------------------------------------------------------
# ml_cohen_kappa — chance-corrected agreement of the lang-id heuristic
# --------------------------------------------------------------------------

# kappa = (po - pe) / (1 - pe) with po = diag/n and pe = sum_k r_k*c_k / n^2
# — clearing denominators keeps everything integer until ONE division:
# kappa = (n*diag - sum r_k*c_k) / (n*n - sum r_k*c_k).
_KAPPA = "((n * diag - pe_num) / (n * n - pe_num))"
_PO = "(diag / n)"

_LANG_PRED_SQL = f"""
    s AS (
        SELECT doc_id, lang,
               {_marker_count_sql(LANG_MARKERS['en'])} AS c_en,
               {_marker_count_sql(LANG_MARKERS['de'])} AS c_de,
               {_marker_count_sql(LANG_MARKERS['fr'])} AS c_fr,
               {_marker_count_sql(LANG_MARKERS['es'])} AS c_es
        FROM documents),
    pred AS (
        SELECT lang AS labeled,
               CASE WHEN c_en >= c_de AND c_en >= c_fr AND c_en >= c_es
                         AND c_en > 0 THEN 'en'
                    WHEN c_de >= c_fr AND c_de >= c_es AND c_de > 0
                         THEN 'de'
                    WHEN c_fr >= c_es AND c_fr > 0 THEN 'fr'
                    WHEN c_es > 0 THEN 'es'
                    ELSE 'und' END AS predicted
        FROM s)
"""


@register(
    "ml_cohen_kappa",
    oracle=f"""
    WITH {_LANG_PRED_SQL},
    cm AS (SELECT labeled, predicted, CAST(count(*) AS BIGINT) AS c
           FROM pred GROUP BY 1, 2),
    rows_m AS (SELECT labeled AS cls, CAST(sum(c) AS BIGINT) AS r
               FROM cm GROUP BY 1),
    cols_m AS (SELECT predicted AS cls, CAST(sum(c) AS BIGINT) AS cl
               FROM cm GROUP BY 1),
    st AS (
        SELECT CAST((SELECT sum(c) FROM cm) AS DOUBLE) AS n,
               CAST((SELECT coalesce(sum(c), 0) FROM cm
                     WHERE labeled = predicted) AS DOUBLE) AS diag,
               CAST((SELECT sum(CAST(r AS HUGEINT) * cl)
                     FROM rows_m JOIN cols_m USING (cls)) AS DOUBLE)
                   AS pe_num,
               (SELECT CAST(count(*) AS BIGINT) FROM rows_m) AS n_labeled,
               (SELECT CAST(count(*) AS BIGINT) FROM cols_m)
                   AS n_predicted)
    SELECT CAST(n AS BIGINT) AS n_docs, n_labeled, n_predicted,
           {sql_stable_round4(_PO)} AS observed_agreement,
           {sql_stable_round4(_KAPPA)} AS cohen_kappa
    FROM st
    """,
)
def ml_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) between the corpus's labeled language
    and text_lang_id's marker-stopword prediction — the chance-corrected
    agreement score a labeling pipeline reports instead of raw accuracy
    (raw agreement is inflated whenever one class dominates; kappa
    subtracts the agreement the marginals alone would produce).

    Clearing denominators keeps it exact: with integer confusion counts,
    kappa = (n*diag - sum_k row_k*col_k) / (n^2 - sum_k row_k*col_k) —
    every sufficient statistic is an exact integer (HUGEINT/DECIMAL
    products), one division at the end, stable_round4. The prediction
    CASE is the registered text_lang_id rule verbatim, so this op also
    pins that classifier's behavior end to end.

    Scale shape: one scan of (doc_id, lang, text) collapsing to the
    class-squared confusion matrix (tiny); marginal products are an
    alphabet-sized join. No per-document state survives the first
    aggregate.
    """
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))

    def marker_count(ws):
        return F.size(F.filter(toks, lambda x: x.isin(*ws)))

    cnt = {lang: marker_count(ws) for lang, ws in LANG_MARKERS.items()}
    c_en, c_de, c_fr, c_es = cnt["en"], cnt["de"], cnt["fr"], cnt["es"]
    pred = (
        F.when(
            (c_en >= c_de) & (c_en >= c_fr) & (c_en >= c_es) & (c_en > 0),
            "en",
        )
        .when((c_de >= c_fr) & (c_de >= c_es) & (c_de > 0), "de")
        .when((c_fr >= c_es) & (c_fr > 0), "fr")
        .when(c_es > 0, "es")
        .otherwise("und")
    )
    cm = (
        d.select(F.col("lang").alias("labeled"), pred.alias("predicted"))
        .groupBy("labeled", "predicted")
        .agg(F.count("*").cast("long").alias("c"))
        .persist()  # totals + diag + both marginals read it
    )
    rows_m = cm.groupBy(F.col("labeled").alias("cls")).agg(
        F.sum("c").cast("long").alias("r")
    )
    cols_m = cm.groupBy(F.col("predicted").alias("cls")).agg(
        F.sum("c").cast("long").alias("cl")
    )
    tot = cm.agg(F.sum("c").cast("double").alias("n"))
    diag = cm.filter(F.col("labeled") == F.col("predicted")).agg(
        F.coalesce(F.sum("c"), F.lit(0)).cast("double").alias("diag")
    )
    pe = (
        rows_m.join(cols_m, "cls")
        .agg(
            dec_sum(
                "CAST(r AS DECIMAL(38,0)) * CAST(cl AS DECIMAL(38,0))"
            ).alias("pe_num")
        )
    )
    nl = rows_m.agg(F.count("*").cast("long").alias("n_labeled"))
    np_ = cols_m.agg(F.count("*").cast("long").alias("n_predicted"))
    return (
        tot.crossJoin(F.broadcast(diag))
        .crossJoin(F.broadcast(pe))
        .crossJoin(F.broadcast(nl))
        .crossJoin(F.broadcast(np_))
        .selectExpr(
            "CAST(n AS BIGINT) AS n_docs",
            "n_labeled",
            "n_predicted",
            f"CAST({sql_stable_round4(_PO)} AS DOUBLE)"
            " AS observed_agreement",
            f"CAST({sql_stable_round4(_KAPPA)} AS DOUBLE) AS cohen_kappa",
        )
    )
