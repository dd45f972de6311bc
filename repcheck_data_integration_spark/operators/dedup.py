"""Document deduplication suite (BASELINE.json north star: the LLM-pipeline
operators a 100 TB training-data run needs). Reference seed: the text-cleanup
path at /root/reference/scripts/ai/summarize_bills_federal.py:67-82.

Five strategies, cheapest-first — the standard production ladder:

- exact        content-hash groupBy (one shuffle on the hash)
- minhash+LSH  shingle → k minhashes → banded buckets → candidate pairs →
               exact-jaccard verify. Candidate generation is an equi-join on
               (band_idx, band_hash): at 100 TB this is the only strategy
               whose cost is O(colliding pairs), not O(n²).
- simhash      near-dup fingerprint equality groups
- ngram-jaccard blocked pairwise verify (the verify kernel used standalone)
- embedding-cosine blocked pairwise semantic near-dup

Everything is expressed with native array/string functions (no UDFs), so the
whole suite is DuckDB-oracle-checkable; minhash signatures are bit-equal
NUMERIC mins on the Spark side (min over conv(hex, 16, 10) longs with the
exact substring reconstructed via lpad(lower(hex())) — HashAggregate-mutable,
round-10), while the DuckDB oracle keeps the original lexicographic-min over
the seeded md5 substrings: fixed-width lowercase hex orders identically to
its numeric value, so both spellings select the same signature (bit-equality
pinned in tests/test_operators.py::test_minhash_mins_bit_equal_and_hash_aggregated).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.top1 import packed
from ..registry import register
from ..tables import load

TOKEN_RE = "[a-z0-9]+"
N_MINHASH = 8
N_BANDS = 4  # band size 2 → P(candidate) = 1-(1-j²)⁴
JACCARD_THRESHOLD = 0.5


def tokens(col: Column) -> Column:
    return F.regexp_extract_all(col, F.lit(TOKEN_RE), 0)


def shingles_from_tokens(t: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a *materialized* token-array
    column. Guarded: Spark's sequence(1, 0) counts *down*, so short docs
    must short-circuit to an empty array.

    Takes the token array as a column reference on purpose: inlining the
    tokenizer regex here would re-evaluate it at every element_at inside the
    lambda (3n regex runs per row — measured 3× slower end-to-end)."""
    k = F.size(t) - (n - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(t, i + j) for j in range(n)]
    )
    return F.when(
        k >= 1, F.array_distinct(F.transform(F.sequence(F.lit(1), k), gram))
    ).otherwise(F.array().cast("array<string>"))


def with_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """doc frame → (original columns, sh) with single-pass tokenization;
    docs too short to shingle are dropped here, BEFORE the shingle
    projection. Ordering matters twice over:

    - two projection nodes (tokens, then shingles): CollapseProject keeps
      them separate because the regex is non-cheap and multiply referenced;
    - the short-doc filter runs on the token count, not ``size(sh) > 0`` —
      a post-hoc filter on sh gets predicate-pushed below the projection
      and re-evaluates the entire shingle expression per row (measured 5×
      slower end-to-end).

    Every emitted row has a non-empty ``sh``, so callers explode it with
    ``explode_outer``: a plain ``explode`` infers ``size(sh) > 0`` and
    pushes that filter below both projections, where it inlines the
    tokenizer regex at every element_at of the shingle lambda.
    """
    return (
        df.withColumn("__toks", tokens(F.col(text_col)))
        .filter(F.size("__toks") >= n)
        .withColumn("sh", shingles_from_tokens(F.col("__toks"), n))
        .drop("__toks")
    )


SQL_SHINGLES = """
        list_distinct(list_transform(
            generate_series(1, greatest(len(regexp_extract_all(text, '[a-z0-9]+')) - 2, 0)),
            i -> regexp_extract_all(text, '[a-z0-9]+')[i] || ' ' ||
                 regexp_extract_all(text, '[a-z0-9]+')[i+1] || ' ' ||
                 regexp_extract_all(text, '[a-z0-9]+')[i+2]))
"""


def stable_round4(col: Column) -> Column:
    """Engine-stable 4-decimal rounding: ``floor(x*1e4 + 0.5)/1e4``.

    Spark's ``round`` HALF_UPs the *shortest decimal repr* of the double
    while DuckDB rounds the binary value, so rationals that land exactly on
    a half (e.g. 0.53375) round differently. floor(x*1e4+0.5) is plain IEEE
    arithmetic — identical everywhere. Non-negative inputs only."""
    return F.floor(col * 10000.0 + 0.5) / 10000.0


def sql_stable_round4(expr: str) -> str:
    return f"floor(({expr}) * 10000.0 + 0.5) / 10000.0"


def jaccard(a: Column, b: Column) -> Column:
    """|A∩B| / |A∪B| on distinct-element arrays."""
    i = F.size(F.array_intersect(a, b)).cast("double")
    return i / (F.size(a) + F.size(b) - i)


SQL_JACCARD = (
    "len(list_intersect({a}, {b}))::DOUBLE"
    " / (len({a}) + len({b}) - len(list_intersect({a}, {b})))"
)


@register(
    "dedup_exact",
    oracle="""
    SELECT doc_id, md5(text) AS content_hash,
           min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_doc_id
    FROM documents
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy; canonical = lowest doc_id per hash."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("content_hash"),
        F.min("doc_id")
        .over(W.partitionBy(F.md5("text")))
        .alias("canonical_doc_id"),
    )


# k minhash signatures from ONE md5 per shingle: the j-th hash is the j-th
# 4-hex-char slice of the digest (8 quasi-independent 16-bit hashes) — 8×
# fewer digest computations than seeded re-hashing, same LSH math. The Spark
# side computes them via explode + min-aggregate (whole-stage codegen); the
# oracle states the same mins over the per-shingle digest list.
def _minhash_sql() -> str:
    return ",\n".join(
        f"list_aggregate(list_transform(shh, h -> substr(h, {1 + 4 * j}, 4)),"
        f" 'min') AS mh{j}"
        for j in range(N_MINHASH)
    )


def _bands_spark() -> Column:
    return F.array(
        *[F.md5(F.concat(F.col(f"mh{2*b}"), F.col(f"mh{2*b+1}"))) for b in range(N_BANDS)]
    )


def _bands_sql() -> str:
    return ", ".join(f"md5(mh{2*b} || mh{2*b+1})" for b in range(N_BANDS))


def minhash_mins(ex: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{N_MINHASH-1}) from the exploded (doc_id, h=md5)
    stream. The mins aggregate over LONGs, not the 4-char hex substrings:
    a string min falls back to SortAggregate (two fact-scaled sorts of
    the exploded shingle stream around the exchange — string buffers are
    not HashAggregate-mutable), while the long buffer stays in
    HashAggregate with map-side partial mins. min over fixed-width
    lowercase hex == min over its numeric value, and lpad(lower(hex()))
    reconstructs the old substring output bit-for-bit, so bands,
    candidates and every oracle twin are unchanged."""
    mh = ex.groupBy("doc_id").agg(
        *[
            F.min(
                F.conv(F.substring("h", 1 + 4 * j, 4), 16, 10).cast("long")
            ).alias(f"mh{j}")
            for j in range(N_MINHASH)
        ]
    )
    return mh.select(
        "doc_id",
        *[
            F.lpad(F.lower(F.hex(F.col(f"mh{j}"))), 4, "0").alias(f"mh{j}")
            for j in range(N_MINHASH)
        ],
    )


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh{N_MINHASH-1}) from a (doc_id, sh) shingle frame
    built by with_shingles: one md5 per shingle, then minhash_mins. The
    one shingle → signature step of the batch family and the streaming
    maintainer.

    Explode + hash aggregate rather than per-array lambdas: expressions
    inside higher-order functions run interpreted, while the exploded
    md5/substring/min pipeline stays in whole-stage codegen with map-side
    partial mins (one shuffle keyed on doc_id carrying 8 fixed-width
    mins). ``explode_outer``, not ``explode``: see with_shingles."""
    ex = sh.select("doc_id", F.explode_outer("sh").alias("s")).select(
        "doc_id", F.md5("s").alias("h")
    )
    return minhash_mins(ex)


def signature_bands(mh: DataFrame) -> DataFrame:
    """(doc_id, band_idx, band_hash) from a signature frame."""
    return mh.select(
        "doc_id", F.posexplode(_bands_spark()).alias("band_idx", "band_hash")
    )


CAND_BUCKET_CAP = 64  # max left-side rows one salted candidate task compares


def banded_candidates(
    bands: DataFrame, right: DataFrame | None = None
) -> DataFrame:
    """(doc_id, band_idx, band_hash) → distinct (doc1, doc2) candidate
    pairs via the bucket equi-join, with HOT-BUCKET SALTING (VERDICT r4
    #6): a boilerplate-dominated corpus collapses ~10% of docs into one
    band bucket, and that bucket's self-join H² OUTPUT explosion lands in
    a single task — invisible to AQE skew-split, which only sees the
    (tiny, highly compressible) INPUT bytes of repeated band hashes.
    Buckets above CAND_BUCKET_CAP rows split into g = ceil(H/CAP) salt
    groups: the left side keeps one deterministic salt per row, the right
    side replicates across all g salts, so each task compares at most
    CAP×H pairs and the pair set is EXACTLY the unsalted one (each (a,b)
    meets once, at a's salt). Cold buckets get g = 1 — zero replication.
    Common-path cost: one extra map-side-combined aggregate over the band
    rows (4 fixed-width rows/doc) plus the broadcast of the (few) hot
    bucket keys — measured +0.2-0.4s at sf0.1 against the unsalted join,
    bought against the unbounded single-task H² worst case.

    Self-join form (``right=None``): pairs are deduped to doc1 < doc2.
    Two-frame form (round 7, VERDICT r6 #4): ``right`` is a second
    (doc_id, band_idx, band_hash) frame — e.g. the accumulated signature
    STATE a streaming micro-batch probes — and the output is every
    distinct (doc1 ∈ bands, doc2 ∈ right) bucket collision, no ordering
    filter. Salting splits by the LEFT bucket count, so a batch whose
    docs collapse into one band bucket still fans its comparisons across
    tasks even when the state bucket is huge."""
    hot = (
        bands.groupBy("band_idx", "band_hash")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") > CAND_BUCKET_CAP)
        .select(
            "band_idx",
            "band_hash",
            F.ceil(F.col("bn") / CAND_BUCKET_CAP).cast("int").alias("g"),
        )
    )
    bl = bands.join(
        F.broadcast(hot), ["band_idx", "band_hash"], "left"
    ).select(
        "doc_id",
        "band_idx",
        "band_hash",
        F.coalesce(F.col("g"), F.lit(1)).alias("g"),
    )
    a = bl.select(
        "band_idx",
        "band_hash",
        F.col("doc_id").alias("doc1"),
        F.pmod(F.xxhash64("doc_id"), F.col("g")).cast("int").alias("salt"),
    )
    if right is None:
        b = bl.select(
            "band_idx",
            "band_hash",
            F.col("doc_id").alias("doc2"),
            F.explode(F.expr("sequence(0, g - 1)")).alias("salt"),
        )
        return (
            a.join(b, ["band_idx", "band_hash", "salt"])
            .filter(F.col("doc1") < F.col("doc2"))
            .select("doc1", "doc2")
            .distinct()
        )
    rb = right.join(
        F.broadcast(hot), ["band_idx", "band_hash"], "left"
    ).select(
        "band_idx",
        "band_hash",
        F.col("doc_id").alias("doc2"),
        F.explode(
            F.expr("sequence(0, coalesce(g, 1) - 1)")
        ).alias("salt"),
    )
    return (
        a.join(rb, ["band_idx", "band_hash", "salt"])
        .select("doc1", "doc2")
        .distinct()
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
    shh AS (
        SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh
        FROM sh WHERE len(sh) > 0),
    mh AS (
        SELECT doc_id, sh, {_minhash_sql()}
        FROM shh),
    bands AS (
        SELECT doc_id, i - 1 AS band_idx, [{_bands_sql()}][i] AS band_hash
        FROM mh, unnest(generate_series(1, {N_BANDS})) AS u(i)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id)
    SELECT doc1, doc2,
           {sql_stable_round4(SQL_JACCARD.format(a='x.sh', b='y.sh'))} AS jaccard_sim
    FROM cand JOIN mh x ON cand.doc1 = x.doc_id
              JOIN mh y ON cand.doc2 = y.doc_id
    WHERE {SQL_JACCARD.format(a='x.sh', b='y.sh')} >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pipeline: shingle → minhash (lexicographic min of
    seeded md5, identical across engines) → band → bucket equi-join →
    exact-jaccard verify. The shape that scales: candidates come from a hash
    join on band buckets, never an n² compare."""
    d = load(spark, sf_dir, "documents")
    sh = with_shingles(d.select("doc_id", "text")).select("doc_id", "sh")
    cand = banded_candidates(signature_bands(minhash_signatures(sh)))
    x = sh.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    y = sh.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    scored = (
        cand.join(x, "doc1")
        .join(y, "doc2")
        .select("doc1", "doc2", jaccard(F.col("sh1"), F.col("sh2")).alias("__j"))
    )  # score in its own projection so the intersect runs once per pair
    return scored.filter(F.col("__j") >= JACCARD_THRESHOLD).select(
        "doc1", "doc2", stable_round4(F.col("__j")).alias("jaccard_sim")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, lang, n_chars // 100 AS len_bucket,
               {SQL_SHINGLES} AS sh
        FROM documents),
    pairs AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               {SQL_JACCARD.format(a='a.sh', b='b.sh')} AS j
        FROM sh a JOIN sh b
          ON a.lang = b.lang AND a.len_bucket = b.len_bucket
         AND a.doc_id < b.doc_id
        WHERE len(a.sh) > 0 AND len(b.sh) > 0)
    SELECT doc1, doc2, {sql_stable_round4('j')} AS jaccard_sim
    FROM pairs WHERE j >= 0.3
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked pairwise n-gram jaccard, *explode-formulated*: instead of
    joining fat shingle arrays pair-wise (O(pairs × |array|) materialized
    twice per pair), explode to (shingle, block) rows, equi-join on the
    shingle itself, and count shared shingles per pair — only pairs that
    actually share a shingle are ever materialized, and the shuffle rows are
    tiny. Jaccard falls out of the match count + per-doc set sizes. Blocking
    on (lang, length-bucket) follows vote_matching.py:196-206. The oracle
    states the same computation in its naive array form."""
    d = load(spark, sf_dir, "documents")
    # persisted: the sizes branch and the explode both read sh, and
    # without the cache the final jaccard filter's inferred
    # isnotnull(n1/n2) is pushed under the shingle projection, inlining
    # the tokenizer regex into the shingle lambda (sf0.1: 1.75 → 11.64 s
    # without, median of 3 alternating pairs)
    sh = (
        with_shingles(d.select("doc_id", "lang", "n_chars", "text"))
        .select(
            "doc_id",
            "lang",
            (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
            "sh",
        )
        .persist()
    )
    sizes = sh.select("doc_id", F.size("sh").alias("n"))
    ex = sh.select(
        "doc_id", "lang", "len_bucket", F.explode_outer("sh").alias("s")
    )
    a, b = ex.alias("a"), ex.alias("b")
    counts = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc1"), F.col("b.doc_id").alias("doc2")
        )
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n1 = sizes.select(F.col("doc_id").alias("doc1"), F.col("n").alias("n1"))
    n2 = sizes.select(F.col("doc_id").alias("doc2"), F.col("n").alias("n2"))
    j = F.col("c").cast("double") / (F.col("n1") + F.col("n2") - F.col("c"))
    return (
        counts.join(F.broadcast(n1), "doc1")
        .join(F.broadcast(n2), "doc2")
        .withColumn("__j", j)
        .filter(F.col("__j") >= 0.3)
        .select("doc1", "doc2", stable_round4(F.col("__j")).alias("jaccard_sim"))
    )


N_SIMHASH_BITS = 16


def _simhash_exprs_spark() -> str:
    """Spark SQL expr computing the per-token ±1 contribution array from the
    first 4 md5 hex digits (16 bits)."""
    digs = [
        f"cast(conv(substr(md5(tok), {1 + i // 4}, 1), 16, 10) as int)"
        for i in range(N_SIMHASH_BITS)
    ]
    bits = [f"(({digs[i]} div {1 << (3 - i % 4)}) % 2)" for i in range(N_SIMHASH_BITS)]
    return ", ".join(f"sum(2 * {b} - 1) AS s{i}" for i, b in enumerate(bits))


def _simhash_exprs_duck() -> str:
    digs = [
        f"CAST('0x' || substr(md5(tok), {1 + i // 4}, 1) AS INTEGER)"
        for i in range(N_SIMHASH_BITS)
    ]
    bits = [f"(({digs[i]} // {1 << (3 - i % 4)}) % 2)" for i in range(N_SIMHASH_BITS)]
    return ", ".join(f"sum(2 * {b} - 1) AS s{i}" for i, b in enumerate(bits))


_FP_SQL = " + ".join(
    f"(CASE WHEN s{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(N_SIMHASH_BITS)
)


@register(
    "dedup_simhash",
    oracle=f"""
    WITH tok AS (
        SELECT doc_id, unnest(regexp_extract_all(text, '[a-z0-9]+')) AS tok
        FROM documents),
    sums AS (
        SELECT doc_id, {_simhash_exprs_duck()} FROM tok GROUP BY doc_id),
    fp AS (
        SELECT doc_id, CAST({_FP_SQL} AS BIGINT) AS simhash FROM sums)
    SELECT doc_id, simhash,
           min(doc_id) OVER (PARTITION BY simhash) AS canonical_doc_id
    FROM fp
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash: 16-bit sign-of-weighted-sum fingerprint over token hashes;
    equal fingerprints form near-dup groups. (Hamming-ball expansion via
    banded bit-prefix joins is the scale-out extension — same bucket-join
    shape as MinHash LSH.)"""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    sums = tok.groupBy("doc_id").agg(
        *[F.expr(e) for e in _split_aggs(_simhash_exprs_spark())]
    )
    fp = sums.select(
        "doc_id", F.expr(f"CAST({_FP_SQL} AS BIGINT)").alias("simhash")
    )
    return fp.select(
        "doc_id",
        "simhash",
        F.min("doc_id").over(W.partitionBy("simhash")).alias("canonical_doc_id"),
    )


def _split_aggs(s: str) -> list[str]:
    """Split 'sum(...) AS s0, sum(...) AS s1' on top-level commas."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    out.append("".join(cur))
    return [x for x in (p.strip() for p in out) if x]


COSINE_THRESHOLD = 0.45


def dot_double(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold of the element products in double —
    bit-identical to DuckDB's list_aggregate('sum') over the same list."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


SQL_DOT = (
    "list_aggregate(list_transform(generate_series(1, len({a})),"
    " i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE), 'sum')"
)


def cosine(a: Column, b: Column) -> Column:
    return dot_double(a, b) / (
        F.sqrt(dot_double(a, a)) * F.sqrt(dot_double(b, b))
    )


def vec_norm(e: Column) -> Column:
    """sqrt(dot(e, e)) as a standalone column, for PRE-computing per
    VECTOR before a pair join: cosine() costs three array folds per
    PAIR (dot + both self-norms), so the pair-heavy ops join the n-row
    norm in and pay one fold per pair — dot/(n1*n2) is bit-identical to
    cosine() (the self-dot fold order is unchanged; IEEE ops associate
    the same), so the DuckDB oracle twins keep the inline 3-fold form.
    Measured on dedup_embedding_pairs at sf0.1 (477k candidate pairs x
    256 dims): 6.1 s -> ~2.5 s."""
    return F.sqrt(dot_double(e, e))


def sql_cosine(a: str, b: str) -> str:
    return (
        f"{SQL_DOT.format(a=a, b=b)} / "
        f"(sqrt({SQL_DOT.format(a=a, b=a)}) * sqrt({SQL_DOT.format(a=b, b=b)}))"
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    SELECT a.vec_id AS vec1, b.vec_id AS vec2,
           {sql_stable_round4(sql_cosine('a.embedding', 'b.embedding'))} AS cosine_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {sql_cosine('a.embedding', 'b.embedding')} >= {COSINE_THRESHOLD}
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup: blocked (same label ≙ same coarse cluster) pairwise
    cosine. The label block stands in for an ANN cell assignment — at scale
    the block key comes from LSH/IVF (see similarity.py), never all-pairs."""
    e = load(spark, sf_dir, "embeddings").withColumn(
        # per-vector norm BEFORE the self-join: one fold per pair, not
        # three — dot/(na*nb) is bit-identical to cosine(), oracle as-is
        "__n",
        vec_norm(F.col("embedding")),
    )
    a, b = e.alias("a"), e.alias("b")
    scored = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec1"),
        F.col("b.vec_id").alias("vec2"),
        (
            dot_double(F.col("a.embedding"), F.col("b.embedding"))
            / (F.col("a.__n") * F.col("b.__n"))
        ).alias("__cos"),
    )  # fold each pair's dot products once, then filter on the column
    return scored.filter(F.col("__cos") >= COSINE_THRESHOLD).select(
        "vec1", "vec2", stable_round4(F.col("__cos")).alias("cosine_sim")
    )


def connected_components(
    pairs: DataFrame, src: str = "doc1", dst: str = "doc2", max_iter: int = 20
) -> DataFrame:
    """Connected components over an undirected pair graph by iterative
    min-label propagation WITH pointer jumping (hash-min + path
    compression): each round a node adopts the smallest label in its
    neighborhood, then immediately adopts ITS label's label. Plain
    hash-min needs O(longest chain) rounds — a 40-doc paragraph chain
    at sf0.01 burned the full 20-round cap at ~1.5 s of fixed job cost
    per round (the three slowest gate queries were all this loop); the
    jump step makes labels hop 2^k nodes per round, so convergence is
    O(log diameter) — measured 35.6 s -> ~8 s on dedup_components with
    identical output. Returns (node, component), component = min node
    id in the cluster.

    This is the step that turns pairwise dedup output into canonical
    groups (keep min-id per component, drop the rest). Iterative → no SQL
    oracle; invariants are unit-tested on known cluster shapes.

    Per-iteration labels are localCheckpoint-ed (not merely persisted):
    persist caches the data but the logical plan still deepens every
    round — analysis cost and the failure-recompute chain grow with the
    iteration count. The eager checkpoint truncates lineage so round N's
    plan is one join deep regardless of N (same hygiene as pagerank)."""
    edges = (
        pairs.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(pairs.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .persist()
    )
    labels = (
        edges.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .persist()
    )
    for _ in range(max_iter):
        new_labels = cc_round(edges, labels).localCheckpoint(eager=True)
        changed = new_labels.filter(F.col("__chg")).limit(1).count()
        labels.unpersist()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    edges.unpersist()
    return labels


def cc_round(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """ONE pointer-jumping round, pre-checkpoint: hash-min over the
    neighborhood, then adopt the label's label. Module-level (round-10,
    VERDICT r9 #5) so operators/audit_hooks.py can build a representative
    round over LocalRelation stand-ins and the window audit can walk the
    loop body's plan — the loop's convergence .count() probes execute at
    construction even under ckpt.PLAN_ONLY, so the final label frames are
    inherently lineage-truncated leaves; auditing round 1 audits them all
    (the body is identical per round).

    ``edges`` is the doubled (a, b) relation; ``labels`` is (node,
    component); returns (node, component, __chg) where __chg marks labels
    that shrank this round (the changed-flag rides ALONG in the
    checkpointed frame, VERDICT r6 #5 — a label changes iff the final
    label is smaller than the old one, so the convergence probe is a
    filter+limit(1) over already-materialized partitions)."""
    neighbor_min = (
        edges.join(labels, edges.b == labels.node)
        .groupBy(F.col("a").alias("node"))
        .agg(F.min("component").alias("nbr_component"))
    )
    stepped = labels.join(neighbor_min, "node", "left").select(
        "node",
        F.least(
            F.col("component"),
            F.coalesce(F.col("nbr_component"), F.col("component")),
        ).alias("component"),
        F.col("component").alias("__old"),
    )
    # pointer jump: a label is always a NODE id inside the same
    # component (initially self; neighbor mins preserve it), so
    # every label has its own row — adopt the label's label. Labels
    # shrink monotonically toward the component min, 2^k hops/round.
    jump = stepped.select(
        F.col("node").alias("__jn"), F.col("component").alias("__jc")
    )
    return stepped.join(
        jump, stepped.component == F.col("__jn"), "left"
    ).select(
        "node",
        F.coalesce(F.col("__jc"), F.col("component")).alias("component"),
        (
            F.coalesce(F.col("__jc"), F.col("component")) < F.col("__old")
        ).alias("__chg"),
    )


@register(
    "dedup_components",
    oracle=f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
    shh AS (
        SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh
        FROM sh WHERE len(sh) > 0),
    mh AS (
        SELECT doc_id, sh, {_minhash_sql()}
        FROM shh),
    bands AS (
        SELECT doc_id, i - 1 AS band_idx, [{_bands_sql()}][i] AS band_hash
        FROM mh, unnest(generate_series(1, {N_BANDS})) AS u(i)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
    ver AS (
        SELECT doc1, doc2
        FROM cand JOIN mh x ON cand.doc1 = x.doc_id
                  JOIN mh y ON cand.doc2 = y.doc_id
        WHERE {SQL_JACCARD.format(a='x.sh', b='y.sh')} >= {JACCARD_THRESHOLD}),
    edges AS (
        SELECT doc1 AS a, doc2 AS b FROM ver
        UNION SELECT doc2, doc1 FROM ver),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
    nodes AS (SELECT DISTINCT a AS n FROM edges)
    SELECT nodes.n AS doc_id,
           least(nodes.n, coalesce(min(r.b), nodes.n)) AS canonical_doc_id
    FROM nodes LEFT JOIN reach r ON r.a = nodes.n
    GROUP BY nodes.n
    """,
)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical near-dup clusters: MinHash-LSH pairs (jaccard-verified) →
    connected components → (doc_id, canonical_doc_id). The iterative
    min-label propagation was rows-only through round 3; the oracle now
    expresses the closure as a recursive reachability CTE (same trick as
    stream_dedup_minhash), so the component labels are hash-verified
    cross-engine."""
    pairs = dedup_minhash_lsh(spark, sf_dir)
    comp = connected_components(pairs)
    return comp.select(
        F.col("node").alias("doc_id"), F.col("component").alias("canonical_doc_id")
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Winnowing span fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03)
# ---------------------------------------------------------------------------

WINNOW_GRAM = 3   # word 3-grams, same shingle unit as MinHash above
WINNOW_WIN = 4    # guarantee: any WINNOW_WIN-gram span shares a fingerprint


@register(
    "dedup_winnowing",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
        FROM documents),
    grams AS (
        SELECT doc_id, i AS pos,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' '
                                        || t[i+2]), 1, 8)) AS BIGINT) AS h
        FROM toks, LATERAL unnest(
            generate_series(1, greatest(len(t) - {WINNOW_GRAM - 1}, 0))
        ) u(i)),
    winnowed AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {WINNOW_WIN - 1} PRECEDING
                            AND CURRENT ROW) AS fp
        FROM grams)
    SELECT DISTINCT doc_id, fp
    FROM winnowed WHERE pos >= {WINNOW_WIN}
    """,
)
def dedup_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints — the span-level near-dup /
    plagiarism primitive (local algorithm: pick the MIN k-gram hash in
    every sliding window of {WINNOW_WIN}, so any shared span of
    ≥ win+gram-1 words between two documents is GUARANTEED to share a
    fingerprint; the reference has no span-level dedup — engine extension
    alongside MinHash whole-doc similarity).

    Spark shape: tokenize → positional gram hashes (posexplode) → one
    window pass (rolling min over {WINNOW_WIN} rows, partitioned by doc —
    the only shuffle) → distinct. The emitted set is the VALUE set of
    window minima, which needs no argmin position tie-break, so both
    engines agree bit-for-bit on md5-derived integer hashes. Matching docs
    = an equi-join on fp (bucket join, same scale shape as the LSH band
    join)."""
    d = load(spark, sf_dir, "documents")
    toks = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("t"))
    k = F.size("t") - (WINNOW_GRAM - 1)
    grams = (
        toks.filter(k >= WINNOW_WIN)  # too short to fill one window: no fp
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), k),
                    lambda i: F.conv(
                        F.substring(
                            F.md5(
                                F.concat_ws(
                                    " ",
                                    F.element_at(F.col("t"), i),
                                    F.element_at(F.col("t"), i + 1),
                                    F.element_at(F.col("t"), i + 2),
                                )
                            ),
                            1,
                            8,
                        ),
                        16,
                        10,
                    ).cast("long"),
                )
            ).alias("pos0", "h"),
        )
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "h")
    )
    win = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_WIN - 1), W.currentRow)
    )
    return (
        grams.select(
            "doc_id", "pos", F.min("h").over(win).alias("fp")
        )
        .filter(F.col("pos") >= WINNOW_WIN)
        .select("doc_id", "fp")
        .distinct()
    )


WINNOW_MAX_DF = 50   # fps in more docs are boilerplate — dropped pre-join
WINNOW_MIN_SHARED = 2


@register(
    "dedup_winnowing_pairs",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS t
        FROM documents),
    grams AS (
        SELECT doc_id, i AS pos,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' '
                                        || t[i+2]), 1, 8)) AS BIGINT) AS h
        FROM toks, LATERAL unnest(
            generate_series(1, greatest(len(t) - {WINNOW_GRAM - 1}, 0))
        ) u(i)),
    winnowed AS (
        SELECT doc_id, pos,
               min(h) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN {WINNOW_WIN - 1} PRECEDING
                            AND CURRENT ROW) AS fp
        FROM grams),
    fps AS (SELECT DISTINCT doc_id, fp
            FROM winnowed WHERE pos >= {WINNOW_WIN}),
    live AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(*) BETWEEN 2 AND {WINNOW_MAX_DF})
    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
           CAST(count(*) AS BIGINT) AS n_shared_fps
    FROM fps a JOIN live USING (fp) JOIN fps b USING (fp)
    WHERE a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= {WINNOW_MIN_SHARED}
    """,
)
def dedup_winnowing_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-sharing document pairs from the winnowing fingerprints: an
    equi-join on fp (the LSH-band-join shape), counting shared
    fingerprints per pair. Two guards keep it scale-safe: fingerprints in
    > {WINNOW_MAX_DF} docs are dropped before the join (boilerplate spans
    — headers, licenses — create quadratic hot buckets and carry no
    dedup signal; the standard stop-fingerprint filter), and pairs must
    share ≥ {WINNOW_MIN_SHARED} fps. Cost ∝ colliding pairs after the
    frequency cap, never O(n²)."""
    fps = dedup_winnowing(spark, sf_dir)
    live = (
        fps.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df").between(2, WINNOW_MAX_DF))
        .select("fp")
    )
    a = fps.join(live, "fp").select("fp", F.col("doc_id").alias("doc1"))
    b = fps.select("fp", F.col("doc_id").alias("doc2"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_fps"))
        .filter(F.col("n_shared_fps") >= WINNOW_MIN_SHARED)
    )


BENCH_MOD = 50  # doc_id % 50 == 0 → held-out "benchmark" proxy set
CONTAM_THRESHOLD = 0.5


@register(
    "dedup_contamination_ngrams",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
    s AS (SELECT doc_id, sh FROM sh WHERE len(sh) > 0),
    bench AS (
        SELECT DISTINCT g FROM s, unnest(s.sh) u(g)
        WHERE doc_id % {BENCH_MOD} = 0),
    corpus_g AS (
        SELECT doc_id, len(sh) AS n_grams, g
        FROM s, unnest(s.sh) u(g)
        WHERE doc_id % {BENCH_MOD} <> 0),
    hits AS (
        SELECT doc_id, n_grams, count(b.g) AS n_overlap
        FROM corpus_g LEFT JOIN bench b ON corpus_g.g = b.g
        GROUP BY doc_id, n_grams)
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(n_overlap AS BIGINT) AS n_overlap,
           {sql_stable_round4('n_overlap * 1.0 / n_grams')}
               AS contamination_ratio,
           n_overlap * 1.0 / n_grams >= {CONTAM_THRESHOLD} AS contaminated
    FROM hits
    """,
)
def dedup_contamination_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: per corpus document, the fraction of its
    distinct word n-grams that appear anywhere in a held-out benchmark set
    (here the ``doc_id % 50 == 0`` slice as the eval-set proxy; production
    uses the actual benchmark suite and 8-13-grams — the GPT-3 appendix-C /
    PaLM-style overlap filter). Docs over the threshold are flagged for
    removal so eval numbers aren't inflated by memorized test data.

    Scale shape: the benchmark side is TINY by construction (eval suites
    are MBs, the corpus is the 100 TB side), so the distinct benchmark
    n-gram set is broadcast and the corpus stays put — explode → broadcast
    LEFT join → per-doc count, no shuffle of document text, zero-hit docs
    kept by the left join. The shingle frame is persisted before the
    bench/corpus branch because both branches read it: without the cache
    each builds the shingles (sf0.1, median of 7 alternating pairs:
    1.18 → 1.24 s here, 1.48 → 1.87 s in pipeline_dpo_prep). Reference seed:
    the text-cleanup path summarize_bills_federal.py:67-82 (same shingle
    machinery as dedup_minhash_lsh)."""
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    sh = with_shingles(docs).select("doc_id", "sh").persist()
    bench = (
        sh.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode_outer("sh").alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ex = sh.filter(F.col("doc_id") % BENCH_MOD != 0).select(
        "doc_id", F.size("sh").alias("n_grams"), F.explode_outer("sh").alias("g")
    )
    ratio = F.col("n_overlap") * 1.0 / F.col("n_grams")
    return (
        ex.join(F.broadcast(bench), "g", "left")
        .groupBy("doc_id", "n_grams")
        .agg(F.count("__hit").alias("n_overlap"))
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.col("n_overlap").cast("long").alias("n_overlap"),
            stable_round4(ratio).alias("contamination_ratio"),
            (ratio >= CONTAM_THRESHOLD).alias("contaminated"),
        )
    )


@register(
    "dedup_keep_canonical",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
    shh AS (
        SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh
        FROM sh WHERE len(sh) > 0),
    mh AS (
        SELECT doc_id, sh, {{mins}}
        FROM shh),
    bands AS (
        SELECT doc_id, i - 1 AS band_idx, [{{bands}}][i] AS band_hash
        FROM mh, unnest(generate_series(1, {N_BANDS})) AS u(i)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
    pairs AS (
        SELECT doc1, doc2
        FROM cand JOIN mh x ON cand.doc1 = x.doc_id
                  JOIN mh y ON cand.doc2 = y.doc_id
        WHERE {SQL_JACCARD.format(a='x.sh', b='y.sh')} >= {JACCARD_THRESHOLD}),
    best AS (
        SELECT doc2, min(doc1) AS min_partner FROM pairs GROUP BY doc2)
    SELECT d.doc_id,
           least(d.doc_id, coalesce(b.min_partner, d.doc_id))
               AS canonical_doc_id,
           d.doc_id = least(d.doc_id, coalesce(b.min_partner, d.doc_id))
               AS keep
    FROM documents d LEFT JOIN best b ON d.doc_id = b.doc2
    """.format(mins=_minhash_sql(), bands=_bands_sql()),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep/drop decision list from the MinHash-LSH near-dup pairs — the
    output a curation pipeline actually consumes (reference analogue: the
    keep-first-on-conflict upsert semantics of database.py:52-73, applied to
    near-duplicates instead of keys).

    Star canonicalization: every doc maps to the smallest doc_id among
    itself and its verified near-dup partners (one aggregation over the
    pair list — ``min(doc1) per doc2`` suffices because pairs are emitted
    with doc1 < doc2). Longer transitive chains collapse via
    ``dedup_components``; this 1-hop form is the deterministic,
    oracle-checkable fast path that already removes every pairwise
    duplicate (each pair loses its higher id).

    Scale shape: the pair list is the LSH output (candidates ∝ colliding
    pairs, never n²); the canonical map is one groupBy + one left join on
    doc_id — two key-partitioned shuffles, no driver materialization."""
    d = load(spark, sf_dir, "documents")
    pairs = dedup_minhash_lsh(spark, sf_dir).select("doc1", "doc2")
    best = pairs.groupBy("doc2").agg(F.min("doc1").alias("min_partner"))
    canon = F.least(
        F.col("doc_id"), F.coalesce(F.col("min_partner"), F.col("doc_id"))
    )
    return (
        d.select("doc_id")
        .join(best, d["doc_id"] == best["doc2"], "left")
        .select(
            "doc_id",
            canon.alias("canonical_doc_id"),
            (F.col("doc_id") == canon).alias("keep"),
        )
    )


@register(
    "dedup_lsh_calibration",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
    shh AS (
        SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh
        FROM sh WHERE len(sh) > 0),
    mh AS (
        SELECT doc_id, sh, {{mins}}
        FROM shh),
    bands AS (
        SELECT doc_id, i - 1 AS band_idx, [{{bands}}][i] AS band_hash
        FROM mh, unnest(generate_series(1, {N_BANDS})) AS u(i)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
    scored AS (
        SELECT doc1, doc2,
               ({{matches}}) / {N_MINHASH}.0 AS est,
               {SQL_JACCARD.format(a='x.sh', b='y.sh')} AS j
        FROM cand JOIN mh x ON cand.doc1 = x.doc_id
                  JOIN mh y ON cand.doc2 = y.doc_id)
    SELECT doc1, doc2,
           {sql_stable_round4('est')} AS est_jaccard,
           {sql_stable_round4('j')} AS exact_jaccard,
           {sql_stable_round4('abs(est - j)')} AS abs_err
    FROM scored WHERE j >= {JACCARD_THRESHOLD}
    """.format(
        mins=_minhash_sql(),
        bands=_bands_sql(),
        matches=" + ".join(
            f"CASE WHEN x.mh{j} = y.mh{j} THEN 1 ELSE 0 END"
            for j in range(N_MINHASH)
        ),
    ),
)
def dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-calibration report for the MinHash family (companion to
    sim_search_recall_report): for every verified near-dup pair, the
    signature-estimated Jaccard (matching minhash fraction — the estimator
    a 100 TB pipeline would TRUST instead of re-reading shingle sets), the
    exact Jaccard, and the absolute error. At scale this is the audit that
    says whether {N_MINHASH} hashes suffice or the band/row config needs
    retuning — computed with one extra join over the same persisted
    minhash relation, no new scans of documents."""
    d = load(spark, sf_dir, "documents")
    sh = with_shingles(d.select("doc_id", "text")).select("doc_id", "sh")
    # mh feeds both the band explode and both sides of the scoring join —
    # persist it so the shingle explode + min-aggregate runs once
    mh = minhash_signatures(sh).persist()
    mhs = mh.join(sh, "doc_id")
    cand = banded_candidates(signature_bands(mh))
    x = mhs.select(
        F.col("doc_id").alias("doc1"),
        F.col("sh").alias("sh1"),
        *[F.col(f"mh{j}").alias(f"x{j}") for j in range(N_MINHASH)],
    )
    y = mhs.select(
        F.col("doc_id").alias("doc2"),
        F.col("sh").alias("sh2"),
        *[F.col(f"mh{j}").alias(f"y{j}") for j in range(N_MINHASH)],
    )
    matches = sum(
        F.when(F.col(f"x{j}") == F.col(f"y{j}"), 1).otherwise(0)
        for j in range(N_MINHASH)
    )
    scored = (
        cand.join(x, "doc1")
        .join(y, "doc2")
        .select(
            "doc1",
            "doc2",
            (matches / float(N_MINHASH)).alias("est"),
            jaccard(F.col("sh1"), F.col("sh2")).alias("j"),
        )
    )
    return scored.filter(F.col("j") >= JACCARD_THRESHOLD).select(
        "doc1",
        "doc2",
        stable_round4(F.col("est")).alias("est_jaccard"),
        stable_round4(F.col("j")).alias("exact_jaccard"),
        stable_round4(F.abs(F.col("est") - F.col("j"))).alias("abs_err"),
    )


@register(
    "dedup_exact_normalized",
    oracle="""
    WITH n AS (
        SELECT doc_id,
               md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
                   AS norm_hash,
               md5(text) AS raw_hash
        FROM documents),
    g AS (
        SELECT norm_hash, min(doc_id) AS canonical_doc_id,
               count(*) AS n_docs,
               count(DISTINCT raw_hash) AS n_raw_variants
        FROM n GROUP BY norm_hash)
    SELECT n.doc_id, g.canonical_doc_id, g.n_docs, g.n_raw_variants
    FROM n JOIN g ON n.norm_hash = g.norm_hash
    """,
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-aware exact dedup: hash after lowercase + collapse of
    every non-alphanumeric run to a single space — catches the trivial
    variants (case, punctuation, whitespace) that byte-exact dedup_exact
    misses but that no near-dup machinery should be spent on. Emits only
    the collapsed groups, with the count of distinct RAW hashes folded in
    (n_raw_variants > 1 ⇔ normalization did work byte-dedup could not).

    Scale shape: same as dedup_exact — one hash aggregate on the
    normalized hash plus a join back; the normalization is a per-row
    projection fused into the scan."""
    d = load(spark, sf_dir, "documents")
    norm = F.md5(
        F.trim(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " ")
        )
    )
    n = d.select(
        "doc_id", norm.alias("norm_hash"), F.md5("text").alias("raw_hash")
    )
    g = n.groupBy("norm_hash").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("raw_hash").alias("n_raw_variants"),
    )
    return n.join(g, "norm_hash").select(
        "doc_id", "canonical_doc_id", "n_docs", "n_raw_variants"
    )


# --- URL-canonicalization dedup (CommonCrawl-style) -----------------------

#: tracking params stripped by canonicalization; the retained param is id
_URL_CANON_SQL = """
        SELECT doc_id,
               'HTTPS://' ||
               CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END
                   || '.Example.com'
                   || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
                   || '/page/' || CAST(doc_id % 40 AS VARCHAR)
                   || CASE WHEN doc_id % 2 = 1 THEN '/' ELSE '' END
                   || CASE WHEN doc_id % 2 = 0
                           THEN '?utm_source=feed&id='
                           ELSE '?id=' END
                   || CAST(doc_id % 40 AS VARCHAR)
                   || CASE WHEN doc_id % 5 = 0 THEN '&utm_campaign=x'
                           ELSE '' END
                   || CASE WHEN doc_id % 7 = 0 THEN '#section-2'
                           ELSE '' END AS url
        FROM documents"""


def synth_messy_url():
    """Deterministic messy URL variant per doc (case/port/slash/utm/
    fragment axes keyed off doc_id residues; /page/<doc_id%40> forces
    cross-doc collisions). Mirrors _URL_CANON_SQL exactly."""
    return F.concat(
        F.lit("HTTPS://"),
        F.when(
            F.col("doc_id") % 2 == 0, F.upper(F.col("source"))
        ).otherwise(F.col("source")),
        F.lit(".Example.com"),
        F.when(F.col("doc_id") % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/page/"),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 2 == 1, F.lit("/")).otherwise(F.lit("")),
        F.when(
            F.col("doc_id") % 2 == 0, F.lit("?utm_source=feed&id=")
        ).otherwise(F.lit("?id=")),
        (F.col("doc_id") % 40).cast("string"),
        F.when(F.col("doc_id") % 5 == 0, F.lit("&utm_campaign=x")).otherwise(
            F.lit("")
        ),
        F.when(F.col("doc_id") % 7 == 0, F.lit("#section-2")).otherwise(
            F.lit("")
        ),
    )


def canonical_url_col(url):
    """Canonicalize: lowercase host, drop port, strip trailing slash and
    fragment, keep only the identifying param."""
    return F.concat(
        F.lit("https://"),
        F.lower(F.regexp_extract(url, "^[A-Za-z]+://([^/:?#]+)", 1)),
        F.regexp_replace(
            F.regexp_extract(url, "^[A-Za-z]+://[^/?#]+(/[^?#]*)", 1),
            "/$", "",
        ),
        F.lit("?id="),
        F.regexp_extract(url, "[?&]id=([0-9]+)", 1),
    )


@register(
    "dedup_url_canonical",
    oracle=f"""
    WITH urls AS ({_URL_CANON_SQL}),
    canon AS (
        SELECT doc_id, url,
               'https://'
               || lower(regexp_extract(url, '^[A-Za-z]+://([^/:?#]+)', 1))
               || regexp_replace(
                      regexp_extract(url, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1),
                      '/$', '')
               || '?id=' || regexp_extract(url, '[?&]id=([0-9]+)', 1)
                   AS canonical_url
        FROM urls)
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           CAST(min(doc_id) AS BIGINT) AS keep_doc_id
    FROM canon
    GROUP BY canonical_url
    ORDER BY canonical_url
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup — the first dedup pass of a web-scrape
    corpus (CommonCrawl practice; the reference's scrape entry points,
    e.g. bills_federal.py source URLs, face the same aliasing): the same
    page arrives as case-varied hosts, explicit default ports, trailing
    slashes, utm_*/tracking params and fragments. Deterministic messy
    variants are synthesized per doc (each aliasing axis keyed off doc_id
    residues; the /page/<doc_id%40> path forces genuine cross-doc
    collisions), canonicalized with the standard rules — lowercase host,
    drop :443, strip trailing slash, keep only the identifying param,
    drop fragment — and exact-deduped keep-lowest-id per canonical URL.

    Scale: one projection + one groupBy on the canonical string — the
    same single-shuffle shape as dedup_exact, because after
    canonicalization URL dedup IS exact dedup."""
    d = load(spark, sf_dir, "documents")
    canonical = canonical_url_col(synth_messy_url())
    return (
        d.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_variants"),
            F.min("doc_id").cast("long").alias("keep_doc_id"),
        )
        .orderBy("canonical_url")
    )


CONTAIN_THRESHOLD = 0.6  # max-containment cut for the doc-in-doc flag

SQL_CONTAIN = (
    "len(list_intersect({a}, {b}))::DOUBLE / len({a})"
)


@register(
    "text_minhash_containment",
    oracle=f"""
    WITH sh AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
    shh AS (
        SELECT doc_id, sh, list_transform(sh, s -> md5(s)) AS shh
        FROM sh WHERE len(sh) > 0),
    mh AS (
        SELECT doc_id, sh, {{mins}}
        FROM shh),
    bands AS (
        SELECT doc_id, i - 1 AS band_idx, [{{bands}}][i] AS band_hash
        FROM mh, unnest(generate_series(1, {{n_bands}})) AS u(i)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc1, b.doc_id AS doc2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
    scored AS (
        SELECT doc1, doc2,
               {SQL_CONTAIN.format(a='x.sh', b='y.sh')} AS c_fwd,
               {SQL_CONTAIN.format(a='y.sh', b='x.sh')} AS c_rev
        FROM cand JOIN mh x ON cand.doc1 = x.doc_id
                  JOIN mh y ON cand.doc2 = y.doc_id)
    SELECT doc1, doc2,
           {sql_stable_round4('c_fwd')} AS containment_fwd,
           {sql_stable_round4('c_rev')} AS containment_rev,
           {sql_stable_round4('greatest(c_fwd, c_rev)')} AS max_containment,
           greatest(c_fwd, c_rev) >= {CONTAIN_THRESHOLD} AS doc_in_doc
    FROM scored
    WHERE greatest(c_fwd, c_rev) >= {CONTAIN_THRESHOLD}
    """.format(
        mins=_minhash_sql(), bands=_bands_sql(), n_bands=N_BANDS
    ),
)
def text_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle CONTAINMENT over the LSH candidate pairs:
    |A∩B|/|A| and |A∩B|/|B| — the doc-inside-doc detector (a short
    document quoted whole inside a long one has high containment but LOW
    jaccard, so dedup_minhash_lsh's symmetric verify misses it; Broder's
    original resemblance/containment pair). Pairs whose max containment
    clears {CONTAIN_THRESHOLD} are flagged.

    Scale shape is dedup_minhash_lsh's verbatim — minhash_signatures over
    the shingle frame (which the verify sides recompute), candidates
    from the banded bucket equi-join (cost ∝ colliding pairs, never n²) —
    with only the verify formula swapped; the known LSH caveat that
    banding recall tracks JACCARD (a containment-high/jaccard-low pair
    needs more bands or a suffix-like index to always collide) is the
    documented trade."""
    d = load(spark, sf_dir, "documents")
    sh = with_shingles(d.select("doc_id", "text")).select("doc_id", "sh")
    cand = banded_candidates(signature_bands(minhash_signatures(sh)))
    x = sh.select(F.col("doc_id").alias("doc1"), F.col("sh").alias("sh1"))
    y = sh.select(F.col("doc_id").alias("doc2"), F.col("sh").alias("sh2"))
    inter = F.size(F.array_intersect(F.col("sh1"), F.col("sh2"))).cast(
        "double"
    )
    scored = (
        cand.join(x, "doc1")
        .join(y, "doc2")
        .select(
            "doc1",
            "doc2",
            (inter / F.size("sh1")).alias("c_fwd"),
            (inter / F.size("sh2")).alias("c_rev"),
        )
    )  # containments in their own projection: one intersect per pair
    mx = F.greatest(F.col("c_fwd"), F.col("c_rev"))
    return scored.filter(mx >= CONTAIN_THRESHOLD).select(
        "doc1",
        "doc2",
        stable_round4(F.col("c_fwd")).alias("containment_fwd"),
        stable_round4(F.col("c_rev")).alias("containment_rev"),
        stable_round4(mx).alias("max_containment"),
        (mx >= CONTAIN_THRESHOLD).alias("doc_in_doc"),
    )


# ---------------------------------------------------------------------------
# dedup_repeated_ngrams — corpus-wide repeated-span statistics
# ---------------------------------------------------------------------------

REP_NGRAM_N = 5      # span unit: 5-token n-grams
REP_MIN_DOCS = 2     # "repeated" = the exact n-gram occurs in ≥2 documents


@register(
    "dedup_repeated_ngrams",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(text, '[a-z0-9]+') AS t
        FROM documents),
    grams AS (
        SELECT doc_id, u.p AS p, u.g AS g FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       generate_series(1, greatest(len(t) - {REP_NGRAM_N - 1}, 0)),
                       i -> struct_pack(
                           p := i,
                           g := t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                || ' ' || t[i+3] || ' ' || t[i+4]))) AS u
            FROM toks)),
    rep AS (SELECT g FROM grams GROUP BY g
            HAVING count(DISTINCT doc_id) >= {REP_MIN_DOCS}),
    hits AS (SELECT grams.doc_id, grams.p FROM grams JOIN rep USING (g)),
    cov AS (
        SELECT DISTINCT doc_id, p + off AS ipos
        FROM hits, generate_series(0, {REP_NGRAM_N - 1}) AS gs(off)),
    isl AS (
        SELECT doc_id, ipos,
               ipos - row_number() OVER (PARTITION BY doc_id
                                         ORDER BY ipos) AS grp
        FROM cov),
    spans AS (
        SELECT doc_id, grp, count(*) AS span_len
        FROM isl GROUP BY 1, 2),
    per_doc AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(span_len) AS BIGINT) AS toks_flagged,
               CAST(max(span_len) AS BIGINT) AS longest_span
        FROM spans GROUP BY 1)
    SELECT toks.doc_id, CAST(len(toks.t) AS BIGINT) AS n_toks,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(p.toks_flagged, 0) AS toks_flagged,
           COALESCE(p.longest_span, 0) AS longest_span,
           {sql_stable_round4(
               "CAST(COALESCE(p.toks_flagged, 0) AS DOUBLE)"
               " / CAST(len(toks.t) AS DOUBLE)")} AS flagged_share
    FROM toks LEFT JOIN per_doc p ON p.doc_id = toks.doc_id
    WHERE len(toks.t) > 0
    ORDER BY toks.doc_id
    """,
)
def dedup_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-level duplication audit (Lee et al., ACL 2022,
    "Deduplicating Training Data Makes Language Models Better" — their
    ExactSubstr pass, token-granular): find every {REP_NGRAM_N}-token
    n-gram that occurs in ≥{REP_MIN_DOCS} distinct documents, merge the
    hit positions per document into maximal repeated SPANS
    (gaps-and-islands), and report per-doc span counts / coverage — the
    numbers a curation pipeline uses to cut boilerplate spans (as opposed
    to whole-doc near-dup removal, which is the minhash family's job;
    Lee et al. run both, and so does pipeline_corpus_curation +
    this).

    Determinism: everything is integer positions and exact string
    equality; the only rational (coverage share) goes through
    stable_round4. Span merge is the classic ``ipos − row_number()``
    island key — deterministic because ipos is unique per doc after the
    DISTINCT.

    Scale shape: positional n-grams are built from the token array with
    one ``transform`` projection (no self-join); the corpus-wide
    doc-frequency filter is a single groupBy on the gram (map-side
    partial agg collapses within-doc repeats first); flagged starts come
    back via equi-join on the gram; span merge shuffles once on doc_id
    (the window). Suffix-array construction — Lee et al.'s single-node
    approach — is exactly what does NOT distribute; the n-gram join is
    the standard scale-out equivalent. Cost is linear in corpus tokens ×
    1 shuffle + the (small) repeated-gram join.
    """
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", tokens(F.col("text")).alias("t")
    ).filter(F.size("t") > 0)
    k = F.size("t") - (REP_NGRAM_N - 1)
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("t"), i + j) for j in range(REP_NGRAM_N)]
    )
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.when(
                k >= 1, F.transform(F.sequence(F.lit(1), k), gram)
            ).otherwise(F.array().cast("array<string>"))
        ).alias("p0", "g"),
    ).select("doc_id", (F.col("p0") + 1).alias("p"), "g")
    rep = (
        grams.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("df"))
        .filter(F.col("df") >= REP_MIN_DOCS)
        .select("g")
    )
    hits = grams.join(rep, "g").select("doc_id", "p")
    cov = hits.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("p"), F.col("p") + F.lit(REP_NGRAM_N - 1))
        ).alias("ipos"),
    ).distinct()
    isl = cov.withColumn(
        "grp",
        F.col("ipos")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("ipos")),
    )
    spans = isl.groupBy("doc_id", "grp").agg(
        F.count(F.lit(1)).alias("span_len")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum("span_len").cast("long").alias("toks_flagged"),
        F.max("span_len").cast("long").alias("longest_span"),
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_toks"))
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            "n_toks",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("toks_flagged", F.lit(0))
            .cast("long")
            .alias("toks_flagged"),
            F.coalesce("longest_span", F.lit(0))
            .cast("long")
            .alias("longest_span"),
            stable_round4(
                F.coalesce("toks_flagged", F.lit(0)).cast("double")
                / F.col("n_toks").cast("double")
            ).alias("flagged_share"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# dedup_paragraphs_keep_first — CCNet-style sub-document keep-first dedup
# --------------------------------------------------------------------------

PARA_SIZE = 120  # non-overlapping char segments stand in for paragraphs


@register(
    "dedup_paragraphs_keep_first",
    oracle=f"""
    WITH segs AS (
        SELECT doc_id, i AS seg_idx,
               md5(substr(text, i * {PARA_SIZE} + 1, {PARA_SIZE})) AS sh,
               CAST(length(substr(text, i * {PARA_SIZE} + 1, {PARA_SIZE}))
                    AS BIGINT) AS seg_len
        FROM documents, LATERAL unnest(
            generate_series(0, greatest(length(text) - 1, 0)
                               // {PARA_SIZE})
        ) u(i)),
    firsts AS (
        SELECT sh, min(doc_id * 1000000 + seg_idx) AS first_pos
        FROM segs GROUP BY 1)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN s.doc_id * 1000000 + s.seg_idx = f.first_pos
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN s.doc_id * 1000000 + s.seg_idx = f.first_pos
                         THEN s.seg_len ELSE 0 END) AS BIGINT)
               AS chars_kept,
           floor(sum(CASE WHEN s.doc_id * 1000000 + s.seg_idx = f.first_pos
                          THEN 1 ELSE 0 END) * 1.0
                 / count(*) * 10000.0 + 0.5) / 10000.0 AS kept_frac
    FROM segs s JOIN firsts f USING (sh)
    GROUP BY 1
    """,
)
def dedup_paragraphs_keep_first(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CCNet-style sub-document KEEP-FIRST dedup (Wenzek et al. 2020:
    dedup the corpus at paragraph granularity, keeping each paragraph's
    globally FIRST occurrence in corpus order and dropping every later
    copy) — the removal op that pairs with dedup_boilerplate_sentences'
    audit: that one flags frequency, this one decides which instance
    survives. Segments are non-overlapping {PARA_SIZE}-char windows
    (the fixture corpus has no newline paragraphing); each doc reports
    how much of it survives: n_segs, n_kept, chars_kept, kept_frac.

    Determinism: the survivor of a hash group is the (doc_id, seg_idx)
    top-1 packed in one exact BIGINT (functions/top1.py), no window sort;
    kept_frac is one division through the stable-round4 form.

    Scale shape: segments travel as md5 from the scan projection on;
    the first-occurrence rule is one map-side-combinable min aggregate
    on the hash (NOT a row_number window — no per-group sort exists in
    the plan), then one hash-keyed join back and a doc-keyed rollup.
    Boilerplate hashes are Zipf-heavy, so the min-agg combines early;
    the join's skewed hash keys are AQE-split at runtime.
    """
    d = load(spark, sf_dir, "documents")
    n_last = F.expr(f"greatest(length(text) - 1, 0) div {PARA_SIZE}")
    seg = F.expr(f"substr(text, seg_idx * {PARA_SIZE} + 1, {PARA_SIZE})")
    segs = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), n_last)).alias("seg_idx"),
        "text",
    ).select(
        "doc_id",
        "seg_idx",
        F.md5(seg).alias("sh"),
        F.length(seg).cast("long").alias("seg_len"),
    )
    # doc_id ≤ packed_headroom(10**6) ≈ 9.2e12; seg_idx < 10**6 holds
    # below 1.2e8 characters per document
    pos = packed(F.col("doc_id"), F.col("seg_idx"), 1000000)
    firsts = segs.groupBy("sh").agg(F.min(pos).alias("first_pos"))
    kept = (pos == F.col("first_pos")).cast("int")
    return (
        segs.join(firsts, "sh")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_segs"),
            F.sum(kept).cast("long").alias("n_kept"),
            F.sum(F.col("seg_len") * kept).cast("long").alias("chars_kept"),
        )
        .select(
            "doc_id",
            "n_segs",
            "n_kept",
            "chars_kept",
            (
                F.floor(
                    F.col("n_kept") * 1.0 / F.col("n_segs") * 10000.0 + 0.5
                )
                / 10000.0
            ).alias("kept_frac"),
        )
    )
