"""Similarity search over embedding columns (BASELINE.json north star).

Reference seed: the fuzzy top-1 pattern at
/root/reference/scripts/bills/vote_matching.py:160-168, lifted to vector
space: probe → score all candidates → take best k.

Two tiers:
- brute-force top-k: exact, the correctness baseline. One pass over the
  candidate set per query batch — fine when the query set is small or the
  corpus is broadcastable.
- IVF-style cell-probed search: candidates are pre-bucketed into coarse
  cells (here: their label cluster, element-wise centroid computed in one
  groupBy); a query scores only the closest n_probe cells' members. At
  100 TB this turns an O(|Q|·|C|) scan into O(|Q|·|C|/cells·n_probe) with a
  bucket equi-join — the same scale shape as MinHash LSH for dedup.

Cosine arithmetic is a sequential double fold (see dedup.dot_double) so
scores are bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.exact import scaled_long
from ..functions.top1 import (
    ASC,
    DESC,
    Top1,
    packed_min,
    unpack_id,
    unpack_score,
)
from ..registry import ORACLE, register
from ..tables import literal_frame, load
from .dedup import (
    SQL_DOT,
    SQL_SHINGLES,
    cosine,
    dot_double,
    sql_cosine,
    sql_stable_round4,
    stable_round4,
    vec_norm,
)
from .textops import text_bm25_search  # registers its oracle

TOP_K = 10
N_QUERIES = 5  # vec_id < 5 are the probe vectors


@register(
    "sim_search_topk",
    oracle=f"""
    WITH scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {sql_cosine('q.embedding', 'c.embedding')} AS cos
        FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES})
    SELECT query_id, cand_id, {sql_stable_round4('cos')} AS cosine_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_search_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-k: the correctness baseline every ANN
    variant is measured against. Queries are broadcast against the corpus."""
    e = load(spark, sf_dir, "embeddings")
    # round-8: per-vector norms factored OUT of the pair expression (the
    # three-fold cosine tax, round-7 lever): each side carries its norm
    # once, the pair pays ONE fold — dot/(qn*cn) is bit-identical to the
    # inline form (fold order unchanged), oracle keeps inline cosine
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        vec_norm(F.col("embedding")).alias("q_n"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        vec_norm(F.col("embedding")).alias("c_n"),
    )
    cos = dot_double(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_n") * F.col("c_n")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "cand_id", stable_round4(F.col("cos")).alias("cosine_sim"))
    )


def cell_centroids(e: DataFrame) -> DataFrame:
    """Element-wise mean embedding per cell (label) — one explode + groupBy,
    the distributed equivalent of a coarse-quantizer codebook. Means are
    exact scaled-integer sums (order-independent), so the codebook — and
    therefore the whole IVF search — is deterministic and oracle-checkable.

    Formulation note (measured): posexplode + two-level agg beats a single
    groupBy with 64 per-dimension sum aggregates here — the wide-agg form
    exceeds the whole-stage-codegen field budget and falls back to
    interpreted evaluation (2× slower end-to-end at sf0.1), while both
    shuffle the same (labels × dims) volume thanks to map-side partial
    aggregation."""
    pos = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    # scaled_long == round(v*1e6) bit-for-bit, minus the per-element
    # BigDecimal (6.7x on this 12.8M-element aggregate at sf10)
    scaled = scaled_long(F.col("v"), 1000000)
    return (
        pos.groupBy("label", "pos")
        .agg(
            (F.sum(scaled) * 1.0 / 1000000 / F.count(F.lit(1))).alias("m")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select(
            "label", F.transform(F.col("pm"), lambda s: s["m"]).alias("centroid")
        )
    )


def cell_centroids_with_count(e: DataFrame) -> DataFrame:
    """cell_centroids plus the member count per cell, read off the same
    two-level aggregate (the per-(label, pos) count is the member count
    for every pos) — callers that need BOTH avoid a second pass over the
    input. Kept separate from cell_centroids so the existing consumers'
    plans are untouched.

    The per-(label, pos) count IS the member count only under the
    fixed-dim non-null embedding invariant (a NULL/empty embedding adds
    no pos rows; a ragged one makes counts differ across pos). ADVICE
    r10: assert that invariant — min==max across pos — woven as
    coalesce(assert_true(...), max) so equal-branch CaseWhen
    simplification can't delete it (round-10 trap); a violating input
    now raises instead of silently shifting n_members."""
    pos = e.select(
        "label", F.posexplode("embedding").alias("pos", "v")
    )
    scaled = scaled_long(F.col("v"), 1000000)
    return (
        pos.groupBy("label", "pos")
        .agg(
            (F.sum(scaled) * 1.0 / 1000000 / F.count(F.lit(1))).alias("m"),
            F.count(F.lit(1)).alias("__n"),
        )
        .groupBy("label")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"),
            F.coalesce(
                F.assert_true(
                    F.min("__n") == F.max("__n"),
                    F.lit(
                        "cell_centroids_with_count: ragged or null/empty "
                        "embedding — per-pos member counts differ"
                    ),
                ).cast("long"),
                F.max("__n"),
            ).alias("n_members"),
        )
        .select(
            "label",
            F.transform(F.col("pm"), lambda s: s["m"]).alias("centroid"),
            "n_members",
        )
    )


@register(
    "sim_search_ivf",
    oracle=f"""
    WITH pos AS (
        SELECT label, i AS pos, embedding[i] AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    cent AS (
        SELECT label, pos,
               sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
                   * 1.0 / 1000000 / count(*) AS m
        FROM pos GROUP BY label, pos),
    centlist AS (
        SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    qc AS (
        SELECT query_id, q_emb, label,
               {sql_cosine('q_emb', 'centroid')} AS cent_cos
        FROM q, centlist),
    probed AS (
        SELECT query_id, q_emb, label FROM (
            SELECT *, row_number() OVER (PARTITION BY query_id
                                         ORDER BY cent_cos DESC, label) AS rn
            FROM qc) WHERE rn <= 3),
    scored AS (
        SELECT p.query_id, c.vec_id AS cand_id,
               {sql_cosine('p.q_emb', 'c.embedding')} AS cos
        FROM probed p JOIN embeddings c
          ON c.label = p.label AND c.vec_id <> p.query_id)
    SELECT query_id, cand_id, {{0}} AS cosine_sim FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY cos DESC, cand_id) AS rn
        FROM scored) WHERE rn <= {TOP_K}
    """.format(sql_stable_round4("cos")),
)
def sim_search_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style approximate top-k: score each query against the cell
    centroids, probe the best 3 cells, brute-force only inside them.
    Approximate relative to sim_search_topk (recall asserted in
    tests/test_similarity.py) yet fully deterministic — the exact-mean
    codebook makes even the approximate path oracle-checkable."""
    e = load(spark, sf_dir, "embeddings")
    cents = cell_centroids(e)
    # norms factored per vector (round-8, same bit-identical lever as
    # sim_search_topk): the probed broadcast carries q_n, the corpus scan
    # carries c_n, the cell-scoped pair pays one fold
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        vec_norm(F.col("embedding")).alias("q_n"),
    )
    # pick n_probe cells per query (centroid table is tiny → broadcast)
    qc = q.join(F.broadcast(cents))
    wcell = W.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("label")
    )
    probed = (
        qc.select(
            "query_id",
            "q_emb",
            "q_n",
            "label",
            cosine(F.col("q_emb"), F.col("centroid")).alias("cent_cos"),
        )
        .withColumn("rn", F.row_number().over(wcell))
        .filter(F.col("rn") <= 3)
        .select("query_id", "q_emb", "q_n", "label")
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        vec_norm(F.col("embedding")).alias("c_n"),
        F.col("label").alias("c_label"),
    )
    cos = dot_double(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_n") * F.col("c_n")
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        c.join(
            F.broadcast(probed),
            (F.col("label") == F.col("c_label"))
            & (F.col("query_id") != F.col("cand_id")),
        )
        .select("query_id", "cand_id", cos.alias("cos"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "cand_id", stable_round4(F.col("cos")).alias("cosine_sim"))
    )


SQL_SQ = ("list_aggregate(list_transform(generate_series(1, len(embedding)),"
          " i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')")


@register(
    "sim_search_dot_norm",
    oracle=f"""
    SELECT vec_id,
           {sql_stable_round4(SQL_SQ)} AS sq_norm,
           {sql_stable_round4('sqrt(' + SQL_SQ + ')')} AS l2_norm
    FROM embeddings
    """,
)
def sim_search_dot_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector primitives (dot product / L2 norm) as native array folds —
    the building blocks the ANN ops compose."""
    e = load(spark, sf_dir, "embeddings")
    sq = dot_double(F.col("embedding"), F.col("embedding"))
    return e.select(
        "vec_id",
        stable_round4(sq).alias("sq_norm"),
        stable_round4(F.sqrt(sq)).alias("l2_norm"),
    )


@register(
    "ml_kmeans_refine",
    oracle=f"""
    WITH pos AS (
        SELECT label, i AS pos, embedding[i] AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    cent AS (
        SELECT label, pos,
               sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
                   * 1.0 / 1000000 / count(*) AS m
        FROM pos GROUP BY label, pos),
    centlist AS (
        SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
    ac AS (
        SELECT e.vec_id, e.embedding, c.label, c.centroid,
               {sql_cosine('e.embedding', 'c.centroid')} AS cos
        FROM embeddings e, centlist c),
    assign AS (
        SELECT vec_id, embedding, label AS cluster FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id
                                         ORDER BY cos DESC, label) AS rn
            FROM ac) WHERE rn = 1),
    npos AS (
        SELECT cluster, i AS pos, embedding[i] AS v
        FROM assign, unnest(generate_series(1, len(embedding))) AS u(i)),
    ncent AS (
        SELECT cluster, pos,
               sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
                   * 1.0 / 1000000 / count(*) AS m
        FROM npos GROUP BY cluster, pos),
    ncentlist AS (
        SELECT cluster, list(m ORDER BY pos) AS ncentroid
        FROM ncent GROUP BY cluster),
    members AS (SELECT cluster, count(*) AS n_members FROM assign
                GROUP BY cluster)
    SELECT m.cluster, CAST(m.n_members AS BIGINT) AS n_members,
           {sql_stable_round4(
               "sqrt(" + "list_aggregate(list_transform("
               "generate_series(1, len(n.ncentroid)),"
               " i -> n.ncentroid[i]::DOUBLE * n.ncentroid[i]::DOUBLE),"
               " 'sum')" + ")")} AS centroid_l2,
           {sql_stable_round4(sql_cosine('o.centroid', 'n.ncentroid'))}
               AS drift_cos
    FROM members m
    JOIN ncentlist n ON n.cluster = m.cluster
    JOIN centlist o ON o.label = m.cluster
    """,
)
def ml_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration of k-means, fully deterministic and therefore
    oracle-checkable — the pattern that makes ITERATIVE algorithms safe on
    this engine: (1) seed the codebook with the exact-mean label centroids
    (cell_centroids), (2) assign every vector to its nearest centroid by
    cosine (ties broken by label), (3) recompute centroids as exact
    scaled-integer element-wise means. Reports per cluster: member count,
    new-centroid L2 norm, and cosine drift between old and new centroid
    (1.0 = converged). Each iteration is one broadcast join + two hash
    aggregations — the loop-until-converged driver repeats this plan, and
    at 100 TB the codebook stays broadcast-sized (k × dim) while the data
    never re-shuffles."""
    e = load(spark, sf_dir, "embeddings")
    cents = cell_centroids(e).withColumn(
        "__cn", vec_norm(F.col("centroid"))
    )
    # vector norm computed ONCE per row below the k-way broadcast join:
    # the assignment then folds each (row, centroid) pair once (dot)
    # instead of cosine()'s three — bit-identical, oracle unchanged
    ac = e.select(
        "vec_id", "embedding", vec_norm(F.col("embedding")).alias("__en")
    ).join(F.broadcast(cents))
    # Top-1-per-vector as ONE map-side-combining aggregate instead of a
    # row_number window over (cos DESC, label ASC). Beats the window twice:
    # the k-way-expanded relation partial-aggregates map-side instead of
    # being shuffled and sorted whole, and the assignment tower is no
    # longer executed twice (members used to re-run it; the count now
    # rides the centroid aggregate via cell_centroids_with_count).
    scored = ac.withColumn(
        "cos",
        dot_double(F.col("embedding"), F.col("centroid"))
        / (F.col("__en") * F.col("__cn")),
    )
    pick = Top1(scored, [("cos", DESC), ("label", ASC)], carry=["embedding"])
    assign = scored.groupBy("vec_id").agg(pick["label"], pick["embedding"])
    ncm = cell_centroids_with_count(assign.drop("vec_id")).select(
        F.col("label").alias("cluster"),
        F.col("centroid").alias("ncentroid"),
        F.col("n_members").cast("long").alias("n_members"),
    )
    nc = F.col("ncentroid")
    return (
        ncm
        .join(
            F.broadcast(cents).select(
                F.col("label").alias("cluster"), F.col("centroid")
            ),
            "cluster",
        )
        .select(
            "cluster",
            "n_members",
            stable_round4(F.sqrt(dot_double(nc, nc))).alias("centroid_l2"),
            stable_round4(cosine(F.col("centroid"), nc)).alias("drift_cos"),
        )
    )


LSH_PLANES = 6
LSH_BAND_BITS = 3  # 2 bands × 3 sign bits: candidates share ANY band
EMB_DIM = 64

_SQL_W = (
    "list_transform(generate_series(1, {dim}), i -> "
    "((CAST(('0x' || substr(md5(CAST(h AS VARCHAR) || '_' "
    "|| CAST(i AS VARCHAR)), 1, 8)) AS BIGINT) % 2001) - 1000) / 1000.0)"
).format(dim=EMB_DIM)


@register(
    "sim_search_lsh",
    oracle=f"""
    WITH planes AS (
        SELECT h, {_SQL_W} AS w
        FROM generate_series(0, {LSH_PLANES - 1}) t(h)),
    bits AS (
        SELECT e.vec_id, p.h,
               CASE WHEN {SQL_DOT.format(a='e.embedding', b='p.w')} >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e, planes p),
    bands AS (
        SELECT vec_id, h // {LSH_BAND_BITS} AS band,
               sum(bit * (1 << (h % {LSH_BAND_BITS}))) AS band_val
        FROM bits GROUP BY vec_id, h // {LSH_BAND_BITS}),
    pairs AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS cand_id
        FROM bands q
        JOIN bands c ON c.band = q.band AND c.band_val = q.band_val
                    AND c.vec_id <> q.vec_id
        WHERE q.vec_id < {N_QUERIES}),
    scored AS (
        SELECT p.query_id, p.cand_id,
               {sql_cosine('eq.embedding', 'ec.embedding')} AS cos
        FROM pairs p
        JOIN embeddings eq ON eq.vec_id = p.query_id
        JOIN embeddings ec ON ec.vec_id = p.cand_id)
    SELECT query_id, cand_id, {sql_stable_round4('cos')} AS cosine_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH ANN, banded like MinHash-LSH dedup: 6 sign
    bits over md5-derived pseudo-random hyperplanes, split into 2 bands of
    3 bits; a corpus vector is a candidate when it matches the query in
    ANY band (OR-of-ANDs amplification), then exact cosine reranks. The
    hyperplane weights are deterministic rationals
    ((md5-hash % 2001 - 1000)/1000), so — like the IVF codebook — the
    whole approximate path hash-matches the oracle. Scale shape: signature
    computation is rows × planes (one groupBy on (vec, band)); the
    candidate join is an equi-join on (band, band_val) — O(bucket size),
    never O(n²)."""
    e = load(spark, sf_dir, "embeddings")
    bands = _lsh_bands(spark, e)
    qb = bands.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "band", "band_val"
    )
    return _lsh_rerank(e, bands, qb)


def _lsh_bands(spark: SparkSession, e: DataFrame) -> DataFrame:
    """(vec_id, band, band_val) sign-LSH banded signatures — shared by the
    single-probe and multi-probe ANN variants."""
    planes = spark.range(LSH_PLANES).select(
        F.col("id").cast("int").alias("h"),
        F.transform(
            F.sequence(F.lit(1), F.lit(EMB_DIM)),
            lambda i: (
                (
                    F.conv(
                        F.substring(
                            F.md5(F.concat_ws("_", F.col("id"), i)), 1, 8
                        ),
                        16,
                        10,
                    ).cast("long")
                    % 2001
                )
                - 1000
            )
            / 1000.0,
        ).alias("w"),
    )
    bits = (
        e.select("vec_id", "embedding")
        .join(F.broadcast(planes))
        .select(
            "vec_id",
            "h",
            F.when(dot_double(F.col("embedding"), F.col("w")) >= 0, 1)
            .otherwise(0)
            .alias("bit"),
        )
    )
    return bits.groupBy(
        "vec_id", F.expr(f"h div {LSH_BAND_BITS}").alias("band")
    ).agg(
        F.sum(F.col("bit") * F.expr(f"shiftleft(1, h % {LSH_BAND_BITS})"))
        .alias("band_val")
    )


def _lsh_rerank(e: DataFrame, bands: DataFrame, qb: DataFrame) -> DataFrame:
    """Bucket equi-join on (band, band_val) against the (possibly
    multi-probe-expanded) query signatures, then exact-cosine rerank."""
    pairs = (
        bands.join(F.broadcast(qb), ["band", "band_val"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("cand_id"))
        .distinct()
    )
    # per-vector norms factored out of the pair expression (round-8,
    # bit-identical — see vec_norm): one fold per rerank pair
    eq = e.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        vec_norm(F.col("embedding")).alias("q_n"),
    )
    ec = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        vec_norm(F.col("embedding")).alias("c_n"),
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("cand_id"))
    return (
        pairs.join(F.broadcast(eq), "query_id")
        .join(ec, "cand_id")
        .select(
            "query_id",
            "cand_id",
            (
                dot_double(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_n") * F.col("c_n"))
            ).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id", "cand_id", stable_round4(F.col("cos")).alias("cosine_sim")
        )
    )


@register(
    "sim_search_lsh_multiprobe",
    oracle=f"""
    WITH planes AS (
        SELECT h, {_SQL_W} AS w
        FROM generate_series(0, {LSH_PLANES - 1}) t(h)),
    bits AS (
        SELECT e.vec_id, p.h,
               CASE WHEN {SQL_DOT.format(a='e.embedding', b='p.w')} >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e, planes p),
    bands AS (
        SELECT vec_id, h // {LSH_BAND_BITS} AS band,
               sum(bit * (1 << (h % {LSH_BAND_BITS}))) AS band_val
        FROM bits GROUP BY vec_id, h // {LSH_BAND_BITS}),
    probes AS (
        SELECT vec_id AS query_id, band,
               xor(band_val, f) AS band_val
        FROM bands, LATERAL unnest(
            {[0] + [1 << b for b in range(LSH_BAND_BITS)]}) u(f)
        WHERE vec_id < {N_QUERIES}),
    pairs AS (
        SELECT DISTINCT p.query_id, c.vec_id AS cand_id
        FROM probes p
        JOIN bands c ON c.band = p.band AND c.band_val = p.band_val
                    AND c.vec_id <> p.query_id),
    scored AS (
        SELECT p.query_id, p.cand_id,
               {sql_cosine('eq.embedding', 'ec.embedding')} AS cos
        FROM pairs p
        JOIN embeddings eq ON eq.vec_id = p.query_id
        JOIN embeddings ec ON ec.vec_id = p.cand_id)
    SELECT query_id, cand_id, {sql_stable_round4('cos')} AS cosine_sim
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY cos DESC, cand_id) AS rn
          FROM scored)
    WHERE rn <= {TOP_K}
    """,
)
def sim_search_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH — the recall lever that does NOT cost a bigger
    index: each query probes its own bucket PLUS the {LSH_BAND_BITS}
    buckets at Hamming distance 1 per band (one sign bit flipped), the
    buckets a near-neighbor most likely fell into. Candidates are a strict
    superset of sim_search_lsh's at (1 + bits)× probe cost and ZERO extra
    index size — the standard trade against doubling the plane count.
    Same bucket equi-join shape: the probe expansion is a 4-row explode on
    the QUERY side only (tiny), the corpus index is untouched, so the scale
    behavior is identical to the single-probe plan. Recall-vs-exact is
    asserted ≥ single-probe in tests/test_similarity.py."""
    e = load(spark, sf_dir, "embeddings")
    bands = _lsh_bands(spark, e)
    flips = F.array(
        F.lit(0), *[F.lit(1 << b) for b in range(LSH_BAND_BITS)]
    )
    qb = (
        bands.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            "band",
            F.explode(flips).alias("f"),
            F.col("band_val"),
        )
        .select(
            "query_id",
            "band",
            F.expr("band_val ^ f").alias("band_val"),
        )
    )
    return _lsh_rerank(e, bands, qb)


@register(
    "emb_normalize",
    oracle=f"""
    SELECT vec_id,
           {sql_stable_round4('sqrt(' + SQL_SQ + ')')} AS l2_norm,
           array_to_string(list_transform(
               generate_series(1, len(embedding)),
               i -> CAST(floor(embedding[i]::DOUBLE / sqrt({SQL_SQ})
                               * 10000.0 + 0.5) AS BIGINT)), ',') AS unit_vec
    FROM embeddings
    """,
)
def emb_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-normalize the embedding column (the prerequisite for cosine =
    dot): per-row array math, shuffle-free, with the norm as a sequential
    double fold. ``unit_vec`` is the comma-joined *scaled-integer* (×1e4)
    elements as a STRING: the driver canonicalizes results through a pandas
    sort, which cannot hash top-level list cells (round-3
    `unhashable type: 'list'` failure) — integers joined into one scalar
    string render identically on both engines and sort fine."""
    e = load(spark, sf_dir, "embeddings")
    # Project the norm as a concrete attribute FIRST: a non-trivial
    # expression referenced inside a higher-order-function lambda is inlined
    # per element (the d-element fold would re-run for each of the d
    # outputs — O(d²) per row). As a projected column it evaluates once.
    sq = dot_double(F.col("embedding"), F.col("embedding"))
    return (
        e.select("vec_id", "embedding", F.sqrt(sq).alias("_norm"))
        .select(
            "vec_id",
            stable_round4(F.col("_norm")).alias("l2_norm"),
            F.array_join(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.floor(
                        x.cast("double") / F.col("_norm") * 10000.0 + 0.5
                    )
                    .cast("long")
                    .cast("string"),
                ),
                ",",
            ).alias("unit_vec"),
        )
    )


@register(
    "emb_quantize_int8",
    oracle=f"""
    WITH m AS (
        SELECT vec_id, embedding,
               list_aggregate(list_transform(
                   generate_series(1, len(embedding)),
                   i -> abs(embedding[i]::DOUBLE)), 'max') AS max_abs
        FROM embeddings)
    SELECT vec_id,
           {sql_stable_round4('max_abs')} AS max_abs,
           array_to_string(list_transform(
               generate_series(1, len(embedding)),
               i -> CAST(floor(embedding[i]::DOUBLE * (127.0 / max_abs)
                               + 0.5) AS INTEGER)), ',') AS q8
    FROM m
    """,
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization per vector (the storage/bandwidth
    compression step before large-scale ANN): scale = 127/max|x|, elements
    stable-rounded to integers so both engines emit identical codes. ``q8``
    is the comma-joined codes as a STRING — the driver's pandas-sort
    canonicalizer can't hash top-level list cells (round-3 failure), and
    integer rendering is engine-identical. Shuffle-free single scan; the
    max-abs fold is per-row array math."""
    e = load(spark, sf_dir, "embeddings")
    # max_abs projected as a concrete column before the transform lambda —
    # referenced inline it would be re-evaluated per element (O(d²)/row),
    # the CLAUDE.md higher-order-function inlining trap.
    max_abs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    return (
        e.select("vec_id", "embedding", max_abs.alias("_max_abs"))
        .select(
            "vec_id",
            stable_round4(F.col("_max_abs")).alias("max_abs"),
            F.array_join(
                F.transform(
                    F.col("embedding"),
                    lambda x: F.floor(
                        x.cast("double") * (127.0 / F.col("_max_abs")) + 0.5
                    )
                    .cast("int")
                    .cast("string"),
                ),
                ",",
            ).alias("q8"),
        )
    )


# --- Achlioptas ±1 random projection (JL dimensionality reduction) --------

RP_K = 16  # output dims (64 → 16)
RP_D = 64  # input embedding dims


def _rp_signs() -> list[list[int]]:
    """Deterministic ±1 projection matrix from md5 — Achlioptas (2001)
    database-friendly random projections: entries in {±1} satisfy the JL
    lemma with the same distortion bounds as Gaussians, and make the
    projection EXACT integer arithmetic (no float matmul to disagree
    across engines). The matrix is a pure function of (j, i), so every
    executor regenerates it locally — nothing to broadcast."""
    import hashlib

    return [
        [
            1
            if int(hashlib.md5(f"rp_{j}_{i}".encode()).hexdigest()[0], 16) < 8
            else -1
            for i in range(RP_D)
        ]
        for j in range(RP_K)
    ]


RP_SIGNS = _rp_signs()


def _rp_sql_cols() -> str:
    cols = []
    for j in range(RP_K):
        terms = " + ".join(
            f"q[{i + 1}]" if s > 0 else f"(-q[{i + 1}])"
            for i, s in enumerate(RP_SIGNS[j])
        )
        cols.append(f"CAST(({terms}) AS BIGINT) / 10000.0 AS rp_{j:02d}")
    return ",\n           ".join(cols)


@register(
    "emb_random_projection",
    oracle=f"""
    WITH q AS (
        SELECT vec_id,
               list_transform(embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE) * 10000.0 + 0.5)
                             AS BIGINT)) AS q
        FROM embeddings)
    SELECT vec_id,
           {_rp_sql_cols()}
    FROM q
    """,
)
def emb_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction 64→16 with a ±1 sign
    matrix (Achlioptas 2001, public paper) — the pre-ANN compression that
    cuts index memory 4× while approximately preserving pairwise
    distances (asserted in tests/test_similarity.py). Embeddings are
    scaled to exact integers (floor(x·1e4+0.5), the stable_round4
    mechanism) so each output coordinate is an integer dot product —
    bit-identical on every engine and partitioning, unlike a float GEMM.
    Shuffle-free single scan; per-row cost is K·D integer ops inside two
    array HOFs (the scaled array is projected ONCE as a concrete column —
    the CLAUDE.md lambda-inlining trap). At 100 TB with float tolerance,
    swap the kernel for a broadcast float32 matrix + mapInPandas numpy
    GEMM (Arrow-batched); the plan shape — scan, project, no exchange —
    is unchanged."""
    e = load(spark, sf_dir, "embeddings")
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * 10000.0 + F.lit(0.5)).cast("long"),
    )
    d = e.select("vec_id", q.alias("__q"))
    out = []
    for j in range(RP_K):
        s_arr = F.array(*[F.lit(s) for s in RP_SIGNS[j]])
        prod = F.zip_with("__q", s_arr, lambda a, b: a * b)
        acc = F.aggregate(prod, F.lit(0).cast("long"), lambda a, x: a + x)
        out.append((acc / 10000.0).cast("double").alias(f"rp_{j:02d}"))
    return d.select("vec_id", *out)


def _recall_oracle() -> str:
    # the two already-registered oracle texts become CTE subqueries —
    # DuckDB allows a nested WITH inside a CTE body, so the composition
    # is literal reuse, not a re-derivation that could drift
    return f"""
    WITH bf AS ({ORACLE["sim_search_topk"]}),
    ap AS ({ORACLE["sim_search_ivf"]})
    SELECT bf.query_id,
           CAST(count(*) AS BIGINT) AS n_exact,
           CAST(count(ap.cand_id) AS BIGINT) AS n_overlap,
           {sql_stable_round4('count(ap.cand_id) * 1.0 / count(*)')}
               AS recall_at_k
    FROM bf LEFT JOIN ap USING (query_id, cand_id)
    GROUP BY bf.query_id
    """


@register("sim_search_recall_report", oracle=_recall_oracle())
def sim_search_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN observability: per-query recall@k of the IVF index against the
    brute-force ground truth — the metric every ANN deployment tracks to
    decide when to re-train the codebook or raise n_probe. Composes the
    two registered ops (no re-derivation) with a left join on the result
    keys; at 100 TB you run it on a hash-sampled query slice
    (sample_deterministic composes in front) since ground truth is the
    expensive side — the report plan itself only joins two k-row-per-query
    relations."""
    bf = sim_search_topk(spark, sf_dir).select("query_id", "cand_id")
    ap = sim_search_ivf(spark, sf_dir).select(
        "query_id", "cand_id", F.lit(1).alias("__hit")
    )
    return (
        bf.join(ap, ["query_id", "cand_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_exact"),
            F.count("__hit").cast("long").alias("n_overlap"),
            stable_round4(F.count("__hit") * 1.0 / F.count(F.lit(1))).alias(
                "recall_at_k"
            ),
        )
    )


N_OUTLIERS = 5


@register(
    "emb_label_outliers",
    oracle=f"""
    WITH pos AS (
        SELECT label, i AS pos, embedding[i] AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    cent AS (
        SELECT label, pos,
               sum(CAST(round(CAST(v AS DOUBLE) * 1000000, 0) AS BIGINT))
                   * 1.0 / 1000000 / count(*) AS m
        FROM pos GROUP BY label, pos),
    centlist AS (
        SELECT label, list(m ORDER BY pos) AS centroid FROM cent GROUP BY label),
    scored AS (
        SELECT e.vec_id, e.label,
               {sql_cosine('e.embedding', 'c.centroid')} AS cos
        FROM embeddings e JOIN centlist c ON e.label = c.label)
    SELECT vec_id, label, {sql_stable_round4('cos')} AS centroid_cos
    FROM (SELECT *, row_number() OVER (PARTITION BY label
                                       ORDER BY cos ASC, vec_id) AS rn
          FROM scored)
    WHERE rn <= {N_OUTLIERS}
    """,
)
def emb_label_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier report: the {N_OUTLIERS} vectors farthest (lowest
    cosine) from their own cluster centroid, per cluster — the screening
    step a curation pipeline runs to surface mislabeled / off-distribution
    documents before training.

    Reuses the exact-integer codebook (cell_centroids) so the centroids —
    and therefore every cosine — are bit-deterministic; ranking ties break
    on vec_id. Scale shape (round-10 partitioned-window sweep): the
    codebook is |cells|×dim (tiny → broadcast join, no shuffle of the
    embedding table beyond the centroid groupBy); scoring is a per-row
    array fold; the bottom-k pick runs through grouped_bucket_rank's
    [1, k] bucket pruning — the old per-label rank window put a whole
    CLASS in one task (and its int row_number wraps past 2^31
    vectors/label); now only the lowest-cosine buckets are ever ranked,
    in (label, bucket)-partitioned LONG windows."""
    e = load(spark, sf_dir, "embeddings")
    cents = cell_centroids(e).withColumn(
        "__cn", vec_norm(F.col("centroid"))
    )
    scored = e.withColumn("__en", vec_norm(F.col("embedding"))).join(
        F.broadcast(cents), "label"
    ).select(
        "vec_id",
        "label",
        (
            dot_double(F.col("embedding"), F.col("centroid"))
            / (F.col("__en") * F.col("__cn"))
        ).alias("cos"),
    )
    from .grouped_prefix import grouped_bucket_rank

    sel = grouped_bucket_rank(
        scored, ["label"], "cos", ["vec_id"], lo="1", hi=str(N_OUTLIERS)
    )
    return sel.select(
        "vec_id",
        "label",
        stable_round4(F.col("cos")).alias("centroid_cos"),
    )


PQ_SUB_DIM = 8  # 64-dim vectors → 8 subspaces × 8 dims
PQ_K = 16  # codebook entries per subspace (seeded Lloyd, one step)
IVFPQ_NPROBE = 3

#: (vec_id, label, p, vs): every embedding element as an exact 1e6-scaled
#: integer — the base relation of the PQ family.
SQL_PQ_POS = """
        SELECT vec_id, label, i - 1 AS p,
               CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000, 0) AS BIGINT)
                   AS vs
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)"""

#: seeded-Lloyd per-subspace codebook: seeds are the subvectors of the
#: PQ_K smallest vec_ids (deterministic), one assign+recenter step in
#: exact integer arithmetic. Emits cb(code, p, ms).
SQL_PQ_CODEBOOK = f"""
    seedids AS (
        SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS code
        FROM embeddings ORDER BY vec_id LIMIT {PQ_K}),
    seeds AS (
        SELECT s.code, pos.p, pos.vs AS ss
        FROM pos JOIN seedids s ON pos.vec_id = s.vec_id),
    assign0 AS (
        SELECT vec_id, sub, code FROM (
            SELECT pos.vec_id, pos.p // {PQ_SUB_DIM} AS sub, seeds.code,
                   row_number() OVER (
                       PARTITION BY pos.vec_id, pos.p // {PQ_SUB_DIM}
                       ORDER BY sum((pos.vs - seeds.ss) * (pos.vs - seeds.ss)),
                                seeds.code) AS rn
            FROM pos JOIN seeds ON pos.p = seeds.p
            GROUP BY pos.vec_id, pos.p // {PQ_SUB_DIM}, seeds.code)
        WHERE rn = 1),
    cb AS (
        SELECT a.code, pos.p,
               CAST(floor(sum(pos.vs) * 1.0 / count(*) + 0.5) AS BIGINT) AS ms
        FROM pos JOIN assign0 a
          ON a.vec_id = pos.vec_id AND a.sub = pos.p // {PQ_SUB_DIM}
        GROUP BY a.code, pos.p)"""

#: encode every vector against cb: enc(vec_id, sub, code, dist).
SQL_PQ_ENC = f"""
    enc AS (
        SELECT vec_id, sub, code, dist FROM (
            SELECT pos.vec_id, pos.p // {PQ_SUB_DIM} AS sub, cb.code,
                   sum((pos.vs - cb.ms) * (pos.vs - cb.ms)) AS dist,
                   row_number() OVER (
                       PARTITION BY pos.vec_id, pos.p // {PQ_SUB_DIM}
                       ORDER BY sum((pos.vs - cb.ms) * (pos.vs - cb.ms)),
                                cb.code) AS rn
            FROM pos JOIN cb ON pos.p = cb.p
            GROUP BY pos.vec_id, pos.p // {PQ_SUB_DIM}, cb.code)
        WHERE rn = 1)"""


def pq_pos(e: DataFrame) -> DataFrame:
    """Exploded exact-integer element relation (vec_id, label, p, vs)."""
    return e.select(
        "vec_id", "label", F.posexplode("embedding").alias("p", "v")
    ).select(
        "vec_id",
        "label",
        "p",
        scaled_long(F.col("v"), 1000000).alias("vs"),
    )


def pq_codebook(e: DataFrame, pos: DataFrame) -> DataFrame:
    """Per-subspace codebook cb(code, p, ms) via one deterministic Lloyd
    step: seeds = subvectors of the PQ_K smallest vec_ids, assign every
    subvector to its nearest seed (exact integer distances, ties to the
    lower code), then recenter each code as the exact-integer mean of its
    members. One step is enough to turn arbitrary seeds into spread,
    data-shaped centroids — and keeps the whole construction
    oracle-expressible. At 100 TB the codebook trains on a deterministic
    sample (the seed/assign relations here are already tiny) and the
    resulting cb is broadcast."""
    seed_ids = (
        e.select("vec_id")
        .orderBy("vec_id")
        .limit(PQ_K)
        .withColumn("code", F.row_number().over(W.orderBy("vec_id")) - 1)
    )
    seeds = (
        pos.join(F.broadcast(seed_ids), "vec_id")
        .select("code", "p", F.col("vs").alias("ss"))
    )
    sub = F.floor(F.col("p") / PQ_SUB_DIM).cast("long").alias("sub")
    # Nearest seed by (d0 ASC, code ASC) as a packed-LONG top-1, not a
    # row_number window over the ×PQ_K-expanded distance relation. d0 =
    # Σ₈ (2·10⁶·|v|)² stays inside packed_headroom(PQ_K) ≈ 5.8e17 for
    # |v| ≲ 130, two orders above any unit-ish embedding.
    assign0 = (
        pos.join(F.broadcast(seeds), "p")
        .groupBy("vec_id", sub, "code")
        .agg(
            F.sum(
                (F.col("vs") - F.col("ss")) * (F.col("vs") - F.col("ss"))
            ).alias("d0")
        )
        .groupBy("vec_id", "sub")
        .agg(
            unpack_id(packed_min(F.col("d0"), F.col("code"), PQ_K), PQ_K)
            .cast("int")
            .alias("code")
        )
    )
    return (
        pos.join(
            assign0,
            (pos["vec_id"] == assign0["vec_id"])
            & (F.floor(pos["p"] / PQ_SUB_DIM).cast("long") == assign0["sub"]),
        )
        .groupBy("code", "p")
        .agg(
            F.floor(F.sum("vs") * 1.0 / F.count(F.lit(1)) + 0.5)
            .cast("long")
            .alias("ms")
        )
    )


def pq_encode(pos: DataFrame, cb: DataFrame) -> DataFrame:
    """enc(vec_id, sub, code, dist): nearest codebook entry per subvector,
    exact integer distances, ties to the lower code."""
    sub = F.floor(F.col("p") / PQ_SUB_DIM).cast("long").alias("sub")
    diff = F.col("vs") - F.col("ms")
    # (dist ASC, code ASC) packed-LONG top-1; dist has d0's headroom bound
    # (pq_codebook), since centroids are means of member values.
    pk = packed_min(F.col("dist"), F.col("code"), PQ_K)
    return (
        pos.join(F.broadcast(cb), "p")
        .groupBy("vec_id", sub, "code")
        .agg(F.sum(diff * diff).alias("dist"))
        .groupBy("vec_id", "sub")
        .agg(
            unpack_id(pk, PQ_K).cast("int").alias("code"),
            unpack_score(pk, PQ_K).alias("dist"),
        )
    )


@register(
    "emb_pq_encode",
    oracle=f"""
    WITH pos AS ({SQL_PQ_POS}),
    {SQL_PQ_CODEBOOK},
    {SQL_PQ_ENC}
    SELECT vec_id,
           string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub) AS pq_code,
           CAST(sum(dist) AS BIGINT) AS total_err_scaled
    FROM enc GROUP BY vec_id
    """,
)
def emb_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode (public Jégou et al. 2011 construction):
    split each 64-dim vector into {PQ_SUB_DIM}-dim subspaces, snap every
    subvector to the nearest entry of a per-subspace {PQ_K}-entry codebook
    (seeded-Lloyd trained, see pq_codebook), emit the code string plus the
    total squared quantization error.

    Determinism: elements and centroids are 1e6-scaled integers, so every
    distance is an EXACT integer sum — no float accumulation anywhere;
    ties break on code. Scale shape: codebook training touches only the
    seed join (tiny); encode is explode → broadcast join → two
    map-side-combined aggregates keyed on (vec_id, sub) — the candidate
    blowup is ×{PQ_K} per element, the standard PQ-encode cost, and never
    materializes pairwise vector joins."""
    e = load(spark, sf_dir, "embeddings")
    pos = pq_pos(e)
    cb = pq_codebook(e, pos)
    enc = pq_encode(pos, cb)
    codes = F.transform(
        F.array_sort(F.collect_list(F.struct("sub", "code"))),
        lambda s: s["code"].cast("string"),
    )
    return enc.groupBy("vec_id").agg(
        F.concat_ws("-", codes).alias("pq_code"),
        F.sum("dist").cast("long").alias("total_err_scaled"),
    )


@register(
    "sim_search_ivfpq",
    oracle=f"""
    WITH pos AS ({SQL_PQ_POS}),
    {SQL_PQ_CODEBOOK},
    {SQL_PQ_ENC},
    cent AS (
        SELECT label, p, sum(vs) * 1.0 / 1000000 / count(*) AS m
        FROM pos GROUP BY label, p),
    centlist AS (
        SELECT label, list(m ORDER BY p) AS centroid FROM cent GROUP BY label),
    q AS (SELECT vec_id AS query_id, embedding AS q_emb
          FROM embeddings WHERE vec_id < {N_QUERIES}),
    probed AS (
        SELECT query_id, label FROM (
            SELECT q.query_id, c.label,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY {sql_cosine('q.q_emb', 'c.centroid')} DESC,
                                c.label) AS rn
            FROM q, centlist c) WHERE rn <= {IVFPQ_NPROBE}),
    lut AS (
        SELECT qp.vec_id AS query_id, qp.p // {PQ_SUB_DIM} AS sub, cb.code,
               sum((qp.vs - cb.ms) * (qp.vs - cb.ms)) AS d
        FROM (SELECT * FROM pos WHERE vec_id < {N_QUERIES}) qp
        JOIN cb ON qp.p = cb.p
        GROUP BY qp.vec_id, qp.p // {PQ_SUB_DIM}, cb.code),
    cand AS (
        SELECT pr.query_id, e.vec_id AS cand_id, enc.sub, enc.code
        FROM probed pr
        JOIN embeddings e ON e.label = pr.label AND e.vec_id <> pr.query_id
        JOIN enc ON enc.vec_id = e.vec_id),
    scored AS (
        SELECT cand.query_id, cand.cand_id, sum(lut.d) AS adc_dist_scaled
        FROM cand JOIN lut ON lut.query_id = cand.query_id
                          AND lut.sub = cand.sub AND lut.code = cand.code
        GROUP BY cand.query_id, cand.cand_id)
    SELECT query_id, cand_id,
           CAST(adc_dist_scaled AS BIGINT) AS adc_dist_scaled
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY adc_dist_scaled, cand_id) AS rn
          FROM scored) WHERE rn <= {TOP_K}
    """,
)
def sim_search_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ search (Jégou et al. 2011, the standard billion-scale ANN
    layout): probe the {IVFPQ_NPROBE} closest coarse cells by centroid
    cosine, then score candidates through their PRODUCT-QUANTIZED codes
    with an asymmetric distance computation (ADC) — each query builds one
    {PQ_K}×{PQ_SUB_DIM}-subspace lookup table against the codebook, and
    each candidate then costs 8 integer lookups + adds instead of a
    full-vector scan.

    At 100 TB this is the memory-side win over sim_search_ivf: probed
    candidates are read as 8 small codes (64 bytes of float32 → 8 codes),
    so the inverted lists stream through the executor cache and the raw
    vectors are never re-read at query time. All distances are exact
    scaled-integer sums (same construction as emb_pq_encode), making even
    the approximate search bit-deterministic. Recall vs exact L2 is
    asserted in tests/test_round3_ops.py.

    Plan shape: codebook, LUT, and probe list are tiny → broadcast; the
    only data-sized operations are the encode groupBy (amortizable across
    all queries — it IS the stored index) and the per-query top-k."""
    e = load(spark, sf_dir, "embeddings")
    pos = pq_pos(e)
    cb = pq_codebook(e, pos)
    enc = pq_encode(pos, cb)
    cents = cell_centroids(e)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    wprobe = W.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("label")
    )
    probed = (
        q.join(F.broadcast(cents))
        .select(
            "query_id",
            "label",
            cosine(F.col("q_emb"), F.col("centroid")).alias("cent_cos"),
        )
        .withColumn("rn", F.row_number().over(wprobe))
        .filter(F.col("rn") <= IVFPQ_NPROBE)
        .select("query_id", "label")
    )
    sub = F.floor(F.col("p") / PQ_SUB_DIM).cast("long").alias("sub")
    diff = F.col("vs") - F.col("ms")
    lut = (
        pos.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("query_id"), "p", "vs")
        .join(F.broadcast(cb), "p")
        .groupBy("query_id", sub, "code")
        .agg(F.sum(diff * diff).alias("d"))
    )
    members = e.select(
        F.col("vec_id").alias("cand_id"), F.col("label").alias("c_label")
    )
    cand = (
        members.join(
            F.broadcast(probed),
            (F.col("c_label") == F.col("label"))
            & (F.col("cand_id") != F.col("query_id")),
        )
        .select("query_id", "cand_id")
        .join(enc, enc["vec_id"] == F.col("cand_id"))
        .select("query_id", "cand_id", "sub", "code")
    )
    wtop = W.partitionBy("query_id").orderBy("adc_dist_scaled", "cand_id")
    return (
        cand.join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", "cand_id")
        .agg(F.sum("d").alias("adc_dist_scaled"))
        .withColumn("rn", F.row_number().over(wtop))
        .filter(F.col("rn") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            F.col("adc_dist_scaled").cast("long").alias("adc_dist_scaled"),
        )
    )


MRL_DIM = 16  # retained prefix dims (Matryoshka truncation)

_SQL_SQ16 = (
    f"list_aggregate(list_transform(generate_series(1, {MRL_DIM}),"
    " i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE), 'sum')"
)


@register(
    "emb_matryoshka_truncate",
    oracle=f"""
    WITH m AS (
        SELECT vec_id, embedding, sqrt({_SQL_SQ16}) AS norm16
        FROM embeddings)
    SELECT vec_id,
           {sql_stable_round4('norm16')} AS norm16,
           array_to_string(list_transform(
               generate_series(1, {MRL_DIM}),
               i -> CAST(floor(embedding[i]::DOUBLE / norm16 * 10000.0 + 0.5)
                         AS BIGINT)), ',') AS mrl_vec
    FROM m
    """,
)
def emb_matryoshka_truncate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation (Kusupati et al. 2022, public): keep the first
    {MRL_DIM} dims of each embedding and re-unit-normalize — the cheap
    low-rank representation MRL-trained models expose for coarse
    retrieval tiers (pairs with sim_search_ivf as its candidate stage).
    Pure per-row projection, shuffle-free; the prefix norm is projected
    as a concrete column BEFORE the element lambda references it (the
    HOF-inlining trap emb_normalize documents), elements stable-rounded
    for the cross-engine hash."""
    e = load(spark, sf_dir, "embeddings")
    pre = F.slice(F.col("embedding"), 1, MRL_DIM)
    sq = F.aggregate(
        pre,
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"),
    )
    return (
        e.select("vec_id", pre.alias("_pre"), F.sqrt(sq).alias("_n16"))
        .select(
            "vec_id",
            stable_round4(F.col("_n16")).alias("norm16"),
            # comma-joined scaled ints (×1e4) as a STRING — the driver's
            # pandas canonicalizer can't hash top-level list cells.
            F.array_join(
                F.transform(
                    F.col("_pre"),
                    lambda x: F.floor(
                        x.cast("double") / F.col("_n16") * 10000.0 + 0.5
                    )
                    .cast("long")
                    .cast("string"),
                ),
                ",",
            ).alias("mrl_vec"),
        )
    )


PCA_ITERS = 3

_SQL_Q8 = """
    q AS (
        SELECT vec_id,
               list_transform(
                   generate_series(1, len(embedding)),
                   i -> CAST(floor(embedding[i]::DOUBLE * (127.0 /
                            list_aggregate(list_transform(
                                generate_series(1, len(embedding)),
                                k -> abs(embedding[k]::DOUBLE)), 'max'))
                            + 0.5) AS BIGINT)) AS qv
        FROM embeddings)"""


def _sql_pca_iter(it: int) -> str:
    """One power-iteration stage: scores s_i = <qv_i, v>, new direction
    w_j = Σ_i s_i·qv_ij, requantized to max |v|=127 integers."""
    return f"""
    s{it} AS (
        SELECT vec_id, qv,
               list_aggregate(list_transform(
                   generate_series(1, len(qv)),
                   k -> qv[k] * vv.v[k]), 'sum') AS s
        FROM q, v{it} vv),
    w{it} AS (
        SELECT j, sum(s * qv[j]) AS w
        FROM s{it}, unnest(generate_series(1, len(qv))) u(j)
        GROUP BY j),
    m{it} AS (SELECT max(abs(w)) AS mx FROM w{it}),
    v{it + 1} AS (
        SELECT list(CAST(floor(w * 127.0 / mx) AS BIGINT) ORDER BY j) AS v
        FROM w{it}, m{it})"""


def pca_step_w(q: DataFrame, v: list) -> DataFrame:
    """ONE power-iteration step, pre-collect (round-10 audit-hook entry,
    VERDICT r9 #5): broadcast the d-int direction literal, project
    s_i = <q_i, v>, then the j-keyed AᵀA·v aggregate — shuffle volume
    O(d), no window anywhere in the step."""
    v_lit = F.array(*[F.lit(int(x)) for x in v])
    s = q.select(
        "qv",
        F.aggregate(
            F.zip_with(F.col("qv"), v_lit, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    return (
        s.select(F.posexplode("qv").alias("j0", "qj"), "s")
        .groupBy("j0")
        .agg(F.sum(F.col("s") * F.col("qj")).alias("w"))
    )


@register(
    "ml_pca_power_iteration",
    oracle=f"""
    WITH {_SQL_Q8},
    d AS (SELECT len(qv) AS dim FROM q LIMIT 1),
    v0 AS (SELECT list_transform(generate_series(1, (SELECT dim FROM d)),
                                 k -> CAST(1 AS BIGINT)) AS v),
    {",".join(_sql_pca_iter(i) for i in range(PCA_ITERS))}
    SELECT j, CAST(v[j] AS BIGINT) AS v_q
    FROM v{PCA_ITERS}, unnest(generate_series(1,
        (SELECT dim FROM d))) u(j)
    ORDER BY j
    """,
)
def ml_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding cloud via {PCA_ITERS}
    POWER ITERATIONS — matrix-free PCA (v ← AᵀA v), the dimensionality-
    reduction primitive behind whitening / spectral screening — made
    ENGINE-EXACT: inputs are the int8-quantized embeddings
    (emb_quantize_int8's kernel), every inner product and row-weighted
    sum is integer arithmetic, and each iteration requantizes the
    direction to max|v|=127 integers (floor(w·127/max|w|)) so magnitudes
    stay < 2^53 and no float ever enters a shuffle-ordered sum. The same
    unrolled computation runs as the DuckDB oracle, scalar-subquery
    style.

    Scale: per iteration, one broadcast of the 64-int direction, one
    map-side s_i projection, one posexplode + j-keyed aggregate (64
    groups) — shuffle volume is O(d), not O(rows); iterations are a
    fixed small constant."""
    e = load(spark, sf_dir, "embeddings")
    max_abs = F.array_max(
        F.transform(F.col("embedding"), lambda x: F.abs(x.cast("double")))
    )
    qv = F.transform(
        F.col("embedding"),
        lambda x: F.floor(
            x.cast("double") * 127.0 / F.col("_ma") + 0.5
        ).cast("long"),
    )
    q = e.select("vec_id", "embedding", max_abs.alias("_ma")).select(
        "vec_id", qv.alias("qv")
    ).persist()
    dim = len(q.first()["qv"])

    v = [1] * dim
    for _ in range(PCA_ITERS):
        w = pca_step_w(q, v).collect()
        wv = [0] * dim
        for r in w:
            wv[r["j0"]] = r["w"]
        mx = max(abs(x) for x in wv) or 1
        # python // on floats floors toward -inf — matching SQL floor()
        # for negative w too
        v = [int((x * 127.0) // mx) for x in wv]
    rows = [(j + 1, int(v[j])) for j in range(dim)]
    return literal_frame(spark, rows, "j int, v_q long").orderBy("j")


@register(
    "emb_quantile_normalize",
    oracle="""
    WITH x AS (
        SELECT vec_id, j, embedding[j]::DOUBLE AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) u(j)),
    n AS (SELECT count(DISTINCT vec_id) AS n FROM x),
    r AS (
        SELECT vec_id, j,
               row_number() OVER (PARTITION BY j ORDER BY v, vec_id) AS rk
        FROM x)
    SELECT r.vec_id,
           array_to_string(
               list(CAST(floor(rk * 1.0 / (n.n + 1) * 10000.0 + 0.5)
                         AS BIGINT) ORDER BY r.j), ',') AS qnorm
    FROM r, n
    GROUP BY r.vec_id
    """,
)
def emb_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension quantile (rank) normalization of the embedding cloud
    — the outlier-immune feature scaling (each dim's values map to their
    empirical quantiles rank/(n+1)), standard before distance-based
    screening when dims have wildly different scales. Executed the
    distributed way: posexplode to (dim, value), then a per-dim LONG
    rank from grouped_bucket_rank — quantiles re-assembled per vector
    with an order-pinned collect (struct-sorted, not collect_list
    luck). Rank ties break on vec_id so the map is engine-exact.

    Scale (round-10 partitioned-window sweep): the old rank window was
    ``PARTITION BY j`` — 64 dim partitions, each holding EVERY vector,
    i.e. 64 fact-scaled single-task sorts the unpartitioned-window
    audit cannot see, with row_number's IntegerType counter wrapping
    past 2^31 vectors per dim (embedding clouds concentrate mass at
    exact 0.0, so the within-dim sort is also tie-heavy). Now every
    window partitions by (dim, value bucket) and the rank is a LONG
    count-over-frame; degenerate all-one-value dims degrade to one
    bucket, never worse than the old shape."""
    from .grouped_prefix import grouped_bucket_rank

    e = load(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("j0", "v")
    ).select("vec_id", (F.col("j0") + 1).alias("j"), F.col("v").cast("double"))
    n = x.agg(F.countDistinct("vec_id").alias("n"))
    r = grouped_bucket_rank(x, ["j"], "v", ["vec_id"]).select(
        "vec_id", "j", F.col("_rk").alias("rk")
    )
    q = r.join(F.broadcast(n)).select(
        "vec_id",
        "j",
        F.floor(F.col("rk") * 1.0 / (F.col("n") + 1) * 10000.0 + 0.5)
        .cast("long")
        .alias("q"),
    )
    # comma-joined scaled-int (×1e4) quantiles as a STRING (driver's pandas
    # canonicalizer can't hash top-level list cells), order pinned by the
    # struct sort on j — not collect_list luck.
    return (
        q.groupBy("vec_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("j"), F.col("q")))
                    ),
                    lambda s: s.getField("q").cast("string"),
                ),
                ",",
            ).alias("qnorm")
        )
    )


RANGE_THETA = 0.25  # cosine radius for range search (fixture
# embeddings are near-orthogonal random vectors, so a production-style
# 0.5+ radius matches nothing at sf<=0.1 — 0.25 keeps the demo non-empty
# at every fixture scale while exercising the same plan)


@register(
    "sim_search_range",
    oracle=f"""
    SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
           {sql_stable_round4(sql_cosine('q.embedding', 'c.embedding'))}
               AS cosine_sim
    FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
    WHERE q.vec_id < {N_QUERIES}
      AND {sql_cosine('q.embedding', 'c.embedding')} >= {RANGE_THETA}
    """,
)
def sim_search_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius (range) search: ALL corpus vectors within cosine >=
    {RANGE_THETA} of each query — the retrieval mode dedup/contamination
    screens use (every match matters), vs top-k's fixed cutoff. Exact
    form here (broadcast queries, one corpus scan, no shuffle at all —
    the filter is per-row); the ANN accelerations are the same
    band/cell candidate joins as the top-k family, with the radius test
    replacing the rank window — range search actually DROPS the top-k
    variants' one window shuffle."""
    e = load(spark, sf_dir, "embeddings")
    # norms factored per vector (round-8, bit-identical — see vec_norm)
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        vec_norm(F.col("embedding")).alias("q_n"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        vec_norm(F.col("embedding")).alias("c_n"),
    )
    cos = dot_double(F.col("q_emb"), F.col("c_emb")) / (
        F.col("q_n") * F.col("c_n")
    )
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .select("query_id", "cand_id", cos.alias("cos"))
        .filter(F.col("cos") >= RANGE_THETA)
        .select(
            "query_id",
            "cand_id",
            stable_round4(F.col("cos")).alias("cosine_sim"),
        )
    )


@register(
    "emb_dim_stats",
    oracle=f"""
    WITH pos AS (
        SELECT i - 1 AS dim, embedding[i]::DOUBLE AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    s AS (
        SELECT dim, count(*) AS n,
               sum(CAST(round(v * 1000000, 0) AS BIGINT)) AS s1,
               sum(CAST(round(v * 1000000, 0) AS BIGINT)
                   * CAST(round(v * 1000000, 0) AS BIGINT)) AS s2,
               min(v) AS mn, max(v) AS mx
        FROM pos GROUP BY dim)
    SELECT dim, CAST(n AS BIGINT) AS n,
           {sql_stable_round4('s1 * 1.0 / 1000000 / n')} AS mean,
           {sql_stable_round4(
               'sqrt((s2 * 1.0 / 1e12) / n - (s1 * 1.0 / 1000000 / n)'
               ' * (s1 * 1.0 / 1000000 / n))')} AS std,
           {sql_stable_round4('mn')} AS min_v,
           {sql_stable_round4('mx')} AS max_v
    FROM s
    """,
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding health profile (mean/std/min/max) — the
    drift/collapse monitor every embedding pipeline runs (a dimension
    whose std falls to ~0 is dead; a mean drifting from 0 flags a model
    or normalization change). Moments are exact scaled-integer sums
    (order-independent under any partitioning, the corr-matrix
    discipline); shuffle carries one partial row per (partition, dim).
    posexplode + hash agg rather than 64 wide aggregates — the
    whole-stage-codegen field-budget trap cell_centroids documents."""
    e = load(spark, sf_dir, "embeddings")
    pos = e.select(F.posexplode("embedding").alias("dim", "v")).select(
        "dim", F.col("v").cast("double").alias("v")
    )
    sc = scaled_long(F.col("v"), 1000000)
    s = pos.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(sc).alias("s1"),
        F.sum(sc * sc).alias("s2"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    mean = F.col("s1") * 1.0 / 1000000 / F.col("n")
    return s.select(
        "dim",
        F.col("n").cast("long").alias("n"),
        stable_round4(mean).alias("mean"),
        stable_round4(
            F.sqrt((F.col("s2") * 1.0 / 1e12) / F.col("n") - mean * mean)
        ).alias("std"),
        stable_round4(F.col("mn")).alias("min_v"),
        stable_round4(F.col("mx")).alias("max_v"),
    )


# --- semantic eval-set decontamination -------------------------------------

SEMCON_EVAL_MOD = 50   # every 50th vec_id BELOW the cap is eval — the
SEMCON_EVAL_CAP = 5000  # benchmark suite is a FIXED set (MBs), it must not
#                         grow with the corpus or the scan goes quadratic
SEMCON_THETA = 0.25    # cosine radius that counts as leakage at fixture SF


@register(
    "dedup_semantic_contamination",
    oracle=f"""
    WITH ev AS (
        SELECT vec_id AS eval_id, embedding AS e_emb
        FROM embeddings
        WHERE vec_id % {SEMCON_EVAL_MOD} = 0 AND vec_id < {SEMCON_EVAL_CAP}),
    tr AS (
        SELECT vec_id AS train_id, embedding AS t_emb
        FROM embeddings
        WHERE vec_id % {SEMCON_EVAL_MOD} <> 0 OR vec_id >= {SEMCON_EVAL_CAP}),
    sc AS (
        SELECT train_id, eval_id,
               {sql_cosine('t_emb', 'e_emb')} AS cos
        FROM tr CROSS JOIN ev),
    r AS (
        SELECT *, row_number() OVER (
                      PARTITION BY train_id
                      ORDER BY cos DESC, eval_id) AS rn
        FROM sc)
    SELECT train_id, CAST(eval_id AS BIGINT) AS nearest_eval_id,
           {sql_stable_round4('cos')} AS max_cosine,
           cos >= {SEMCON_THETA} AS contaminated
    FROM r WHERE rn = 1
    """,
)
def dedup_semantic_contamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Semantic eval-set decontamination: for every TRAINING vector, its
    nearest held-out EVAL vector by cosine and a leakage flag (max cosine
    >= {SEMCON_THETA}) — the embedding-space complement of
    dedup_contamination_ngrams (paraphrased test questions slip past
    n-gram overlap; this catches them). Every {SEMCON_EVAL_MOD}th vec_id
    below {SEMCON_EVAL_CAP} stands in for the benchmark suite — a FIXED
    set, capped so it cannot grow with the corpus (an eval side defined
    as a corpus fraction would make this scan quadratic at 100 TB).

    Scale shape mirrors the n-gram decontaminator: the eval side is tiny
    by construction (benchmarks are MBs, training is the 100 TB side), so
    it broadcasts and the corpus never shuffles its vectors — each train
    row scores |eval| pairs IN PLACE and partial aggregation collapses
    them to one row per train_id before the (tiny) final shuffle. The
    argmax is a single top-1 aggregate by (cos DESC, eval_id ASC) — no
    pair window; ties go to the lowest eval_id, matching the oracle's
    rank order. Cosine is the sequential double fold (dedup.dot_double),
    bit-identical to DuckDB."""
    e = load(spark, sf_dir, "embeddings")
    is_eval = (F.col("vec_id") % SEMCON_EVAL_MOD == 0) & (
        F.col("vec_id") < SEMCON_EVAL_CAP
    )
    ev = e.filter(is_eval).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("e_emb"),
        vec_norm(F.col("embedding")).alias("__evn"),
    )
    tr = e.filter(~is_eval).select(
        F.col("vec_id").alias("train_id"),
        F.col("embedding").alias("t_emb"),
        vec_norm(F.col("embedding")).alias("__trn"),
    )
    # norms once per side below the broadcast: each (train, eval) pair
    # folds only the dot (bit-identical to cosine(); oracle unchanged)
    cos = dot_double(F.col("t_emb"), F.col("e_emb")) / (
        F.col("__trn") * F.col("__evn")
    )
    pairs = tr.join(F.broadcast(ev)).select(
        "train_id", "eval_id", cos.alias("cos")
    )
    m = Top1(pairs, [("cos", DESC), ("eval_id", ASC)])
    return pairs.groupBy("train_id").agg(
        m["eval_id"].alias("nearest_eval_id"),
        stable_round4(m["cos"]).alias("max_cosine"),
        (m["cos"] >= SEMCON_THETA).alias("contaminated"),
    )


KNN_K = 5


@register(
    "ml_knn_classify",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, label AS true_label
        FROM embeddings WHERE vec_id < {N_QUERIES}),
    c AS (
        SELECT vec_id AS cand_id, embedding AS c_emb, label AS c_label
        FROM embeddings),
    scored AS (
        SELECT query_id, true_label, cand_id, c_label,
               {sql_cosine('q_emb', 'c_emb')} AS cos
        FROM q JOIN c ON query_id <> cand_id),
    r AS (
        SELECT *, row_number() OVER (
                      PARTITION BY query_id
                      ORDER BY cos DESC, cand_id) AS rn
        FROM scored),
    votes AS (
        SELECT query_id, true_label, c_label, count(*) AS n_votes
        FROM r WHERE rn <= {KNN_K}
        GROUP BY query_id, true_label, c_label),
    best AS (
        SELECT query_id, true_label, c_label AS pred_label, n_votes,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY n_votes DESC, c_label) AS vr
        FROM votes)
    SELECT query_id, CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(n_votes AS BIGINT) AS n_votes,
           true_label = pred_label AS correct
    FROM best WHERE vr = 1
    """,
)
def ml_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification eval: each probe vector (vec_id <
    {N_QUERIES}) is labeled by majority vote of its {KNN_K} nearest
    neighbors (cosine, self excluded), compared against its true label —
    the embedding-quality eval every similarity index ships with (if
    k-NN accuracy degrades after quantization/truncation, the index
    recall numbers are lies). Ties break deterministically: neighbor
    rank by (cos DESC, cand_id), vote by (count DESC, label ASC).

    Plan shape is sim_search_topk's: the probe set broadcasts, the
    corpus is scanned once in place, and the only shuffles carry the
    |Q|·k neighbor rows — vote counting is a tiny two-level agg on the
    already-ranked frame. The scale path swaps the exact scan for the
    IVF/LSH candidate joins, identically to the search family."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        vec_norm(F.col("embedding")).alias("q_n"),
        F.col("label").alias("true_label"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_emb"),
        vec_norm(F.col("embedding")).alias("c_n"),
        F.col("label").alias("c_label"),
    )
    scored = c.join(
        F.broadcast(q), F.col("query_id") != F.col("cand_id")
    ).select(
        "query_id",
        "true_label",
        "cand_id",
        "c_label",
        (
            dot_double(F.col("q_emb"), F.col("c_emb"))
            / (F.col("q_n") * F.col("c_n"))
        ).alias("cos"),
    )
    rn = F.row_number().over(
        W.partitionBy("query_id").orderBy(F.col("cos").desc(), "cand_id")
    )
    votes = (
        scored.withColumn("rn", rn)
        .filter(F.col("rn") <= KNN_K)
        .groupBy("query_id", "true_label", "c_label")
        .agg(F.count(F.lit(1)).alias("n_votes"))
    )
    best = votes.withColumn(
        "vr",
        F.row_number().over(
            W.partitionBy("query_id").orderBy(
                F.col("n_votes").desc(), "c_label"
            )
        ),
    )
    return best.filter(F.col("vr") == 1).select(
        "query_id",
        F.col("true_label").cast("long").alias("true_label"),
        F.col("c_label").cast("long").alias("pred_label"),
        F.col("n_votes").cast("long").alias("n_votes"),
        (F.col("true_label") == F.col("c_label")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# sim_search_mips — max-inner-product retrieval via norm augmentation
# ---------------------------------------------------------------------------


@register(
    "sim_search_mips",
    oracle=f"""
    WITH norms AS (
        SELECT vec_id, embedding,
               {SQL_DOT.format(a='embedding', b='embedding')} AS sq
        FROM embeddings),
    mx AS (SELECT max(sq) AS m2 FROM norms),
    scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
               {SQL_DOT.format(a='q.embedding', b='c.embedding')} AS dot,
               sqrt(q.sq) AS qn
        FROM norms q JOIN norms c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {N_QUERIES}),
    ranked AS (
        SELECT query_id, cand_id, dot, qn,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY dot DESC, cand_id) AS rn
        FROM scored)
    SELECT query_id, cand_id,
           {sql_stable_round4('dot')} AS inner_product,
           {sql_stable_round4('dot / (qn * sqrt(mx.m2))')} AS aug_cosine
    FROM ranked CROSS JOIN mx
    WHERE rn <= {TOP_K}
    """,
)
def sim_search_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k — the retrieval mode dense-passage /
    recommender scoring actually uses (unnormalized dot, where a vector's
    MAGNITUDE carries signal: popularity, confidence), which cosine ANN
    cannot serve directly. Alongside the exact scores, emits the
    norm-augmentation value from the published MIPS→cosine reduction
    (Bachrach et al., RecSys 2014): append sqrt(M² − ‖x‖²) to each
    candidate and 0 to each query, and the augmented-space cosine is
    dot/(‖q‖·M) — a STRICTLY MONOTONE transform of the dot for each
    query, so the exact top-k here is simultaneously the augmented-cosine
    top-k. That identity is the scale path: at 100 TB you run the
    existing bucketed sim_search_lsh / ivf machinery over the augmented
    vectors unchanged, and this op is its exact baseline (the recall
    denominator, same role sim_search_topk plays for cosine ANN).

    Determinism: the dot is the house sequential double fold
    (dedup.dot_double == DuckDB list_aggregate order), M² is a 1-row
    exact max broadcast to every row, ranking carries the full
    (dot DESC, cand_id) tie-break, and both emitted scores go through
    stable_round4.

    Scale shape: queries broadcast against the corpus (the documented
    exact-baseline shape); one window per query partition for top-k; the
    max-norm is a single-row aggregate broadcast, never a shuffle.
    """
    e = load(spark, sf_dir, "embeddings")
    sq = dot_double(F.col("embedding"), F.col("embedding"))
    norms = e.select("vec_id", "embedding", sq.alias("sq"))
    mx = norms.agg(F.max("sq").alias("m2"))
    q = norms.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(F.col("sq")).alias("qn"),
    )
    c = norms.select(
        F.col("vec_id").alias("cand_id"), F.col("embedding").alias("c_emb")
    )
    w = W.partitionBy("query_id").orderBy(F.col("dot").desc(), F.col("cand_id"))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id"))
        .select(
            "query_id",
            "cand_id",
            dot_double(F.col("q_emb"), F.col("c_emb")).alias("dot"),
            "qn",
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .crossJoin(F.broadcast(mx))
        .select(
            "query_id",
            "cand_id",
            stable_round4(F.col("dot")).alias("inner_product"),
            stable_round4(
                F.col("dot") / (F.col("qn") * F.sqrt(F.col("m2")))
            ).alias("aug_cosine"),
        )
    )


# --- embedding-cosine corpus self near-dup (SemDeDup-style) -----------------

EMBDUP_THETA = 0.25  # cosine threshold for near-duplicate embedding pairs


@register(
    "dedup_embedding_pairs",
    oracle=f"""
    WITH planes AS (
        SELECT h, {_SQL_W} AS w
        FROM generate_series(0, {LSH_PLANES - 1}) t(h)),
    bits AS (
        SELECT e.vec_id, p.h,
               CASE WHEN {SQL_DOT.format(a='e.embedding', b='p.w')} >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e, planes p),
    bands AS (
        SELECT vec_id, h // {LSH_BAND_BITS} AS band,
               sum(bit * (1 << (h % {LSH_BAND_BITS}))) AS band_val
        FROM bits GROUP BY vec_id, h // {LSH_BAND_BITS}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id),
    scored AS (
        SELECT vec1, vec2,
               {sql_cosine('x.embedding', 'y.embedding')} AS cos
        FROM cand JOIN embeddings x ON cand.vec1 = x.vec_id
                  JOIN embeddings y ON cand.vec2 = y.vec_id)
    SELECT vec1, vec2, {sql_stable_round4('cos')} AS cosine_sim
    FROM scored WHERE cos >= {EMBDUP_THETA}
    """,
)
def dedup_embedding_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide embedding near-duplicate PAIRS (the SemDeDup shape,
    Abbas et al. 2023): sign-LSH band buckets propose candidates, exact
    cosine >= {EMBDUP_THETA} verifies — the semantic sibling of
    dedup_minhash_lsh for paraphrased/translated duplicates that shingle
    dedup can't see. Self-join form of sim_search_lsh: every vector is
    both query and candidate, pairs ordered vec1 < vec2.

    Scale shape: candidates come from the band equi-join (cost ∝
    colliding pairs, never n²) and run through the SAME hot-bucket
    salting as the MinHash family (operators/dedup.banded_candidates —
    an embedding-collapsed corpus, e.g. boilerplate pages encoding to
    one point, is exactly the LSH hot-bucket worst case); verify reads
    two vectors per surviving candidate. The output feeds
    dedup_components for cluster canonicalization unchanged."""
    from .dedup import banded_candidates

    e = load(spark, sf_dir, "embeddings")
    bands = _lsh_bands(spark, e).select(
        F.col("vec_id").alias("doc_id"),
        F.col("band").alias("band_idx"),
        F.col("band_val").alias("band_hash"),
    )
    cand = banded_candidates(bands).select(
        F.col("doc1").alias("vec1"), F.col("doc2").alias("vec2")
    )
    # per-vector norms joined in (dedup.vec_norm): one fold per pair,
    # not three — bit-identical to cosine(), oracle twin unchanged
    x = e.select(
        F.col("vec_id").alias("vec1"),
        F.col("embedding").alias("e1"),
        vec_norm(F.col("embedding")).alias("n1"),
    )
    y = e.select(
        F.col("vec_id").alias("vec2"),
        F.col("embedding").alias("e2"),
        vec_norm(F.col("embedding")).alias("n2"),
    )
    scored = (
        cand.join(x, "vec1")
        .join(y, "vec2")
        .select(
            "vec1",
            "vec2",
            (
                dot_double(F.col("e1"), F.col("e2"))
                / (F.col("n1") * F.col("n2"))
            ).alias("cos"),
        )
    )
    return scored.filter(F.col("cos") >= EMBDUP_THETA).select(
        "vec1", "vec2", stable_round4(F.col("cos")).alias("cosine_sim")
    )


EMBDUP_TOPK_CAP = 5  # per-vector partner cap for the bounded pair relation


@register(
    "dedup_embedding_pairs_capped",
    oracle=f"""
    WITH planes AS (
        SELECT h, {_SQL_W} AS w
        FROM generate_series(0, {LSH_PLANES - 1}) t(h)),
    bits AS (
        SELECT e.vec_id, p.h,
               CASE WHEN {SQL_DOT.format(a='e.embedding', b='p.w')} >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e, planes p),
    bands AS (
        SELECT vec_id, h // {LSH_BAND_BITS} AS band,
               sum(bit * (1 << (h % {LSH_BAND_BITS}))) AS band_val
        FROM bits GROUP BY vec_id, h // {LSH_BAND_BITS}),
    cand AS (
        SELECT DISTINCT a.vec_id AS vec1, b.vec_id AS vec2
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.band_val = b.band_val
         AND a.vec_id < b.vec_id),
    pairs AS (
        SELECT vec1, vec2,
               {sql_cosine('x.embedding', 'y.embedding')} AS cos
        FROM cand JOIN embeddings x ON cand.vec1 = x.vec_id
                  JOIN embeddings y ON cand.vec2 = y.vec_id),
    surv AS (SELECT * FROM pairs WHERE cos >= {EMBDUP_THETA}),
    edges AS (
        SELECT vec1 AS src, vec2 AS dst, cos FROM surv
        UNION ALL
        SELECT vec2 AS src, vec1 AS dst, cos FROM surv),
    kept AS (
        SELECT src, dst, cos FROM (
            SELECT *, row_number() OVER (PARTITION BY src
                                         ORDER BY cos DESC, dst) AS rn
            FROM edges) WHERE rn <= {EMBDUP_TOPK_CAP})
    SELECT DISTINCT least(src, dst) AS vec1, greatest(src, dst) AS vec2,
           {sql_stable_round4('cos')} AS cosine_sim
    FROM kept
    """,
)
def dedup_embedding_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED form of dedup_embedding_pairs (VERDICT r5 #4): each vector
    keeps at most its {EMBDUP_TOPK_CAP} highest-cosine partners (a pair
    survives if EITHER endpoint ranks it — the symmetric k-NN-graph cap),
    so the output relation is O(n·k) by construction even on a
    boilerplate-collapsed corpus where the full pair relation is O(n²) in
    the duplicated mass. The 10× probe in SCALE.md pins the wall sublinear
    in the FULL pair count.

    k-NN-graph capping is the standard SemDeDup/graph-dedup scale move:
    connected components (dedup_components) are IDENTICAL on the capped
    graph whenever every true near-dup has at least one partner inside its
    top-{EMBDUP_TOPK_CAP} (clusters stay connected through mutual nearest
    neighbors); the full relation stays registered as
    dedup_embedding_pairs for audit runs.

    Scale shape: candidates and exact verify are shared with the full op
    (banded + salted, cost ∝ colliding pairs); the cap adds one
    per-endpoint window over SURVIVING pairs only — partitioned by vector
    id, never global."""
    from .dedup import banded_candidates

    e = load(spark, sf_dir, "embeddings")
    bands = _lsh_bands(spark, e).select(
        F.col("vec_id").alias("doc_id"),
        F.col("band").alias("band_idx"),
        F.col("band_val").alias("band_hash"),
    )
    cand = banded_candidates(bands).select(
        F.col("doc1").alias("vec1"), F.col("doc2").alias("vec2")
    )
    x = e.select(
        F.col("vec_id").alias("vec1"),
        F.col("embedding").alias("e1"),
        vec_norm(F.col("embedding")).alias("n1"),
    )
    y = e.select(
        F.col("vec_id").alias("vec2"),
        F.col("embedding").alias("e2"),
        vec_norm(F.col("embedding")).alias("n2"),
    )
    surv = (
        cand.join(x, "vec1")
        .join(y, "vec2")
        .select(
            "vec1",
            "vec2",
            (
                dot_double(F.col("e1"), F.col("e2"))
                / (F.col("n1") * F.col("n2"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= EMBDUP_THETA)
    )
    # Both edge directions exploded from ONE surv — a unionAll(surv.swap)
    # duplicates the whole candidate+verify tower (4 sign-LSH band builds,
    # 2 salted candidate joins, 2 verify-join pyramids executed; the
    # market-basket bug class): plans/r10/dedup_embedding_pairs_capped_
    # {before,after}.txt show the tower count 2 -> 1.
    edges = surv.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec1").alias("src"), F.col("vec2").alias("dst")
                ),
                F.struct(
                    F.col("vec2").alias("src"), F.col("vec1").alias("dst")
                ),
            )
        ).alias("e"),
        "cos",
    ).select("e.src", "e.dst", "cos")
    w = W.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    kept = (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= EMBDUP_TOPK_CAP)
    )
    return kept.select(
        F.least("src", "dst").alias("vec1"),
        F.greatest("src", "dst").alias("vec2"),
        stable_round4(F.col("cos")).alias("cosine_sim"),
    ).distinct()


@register(
    "dedup_embedding_pairs_star",
    oracle=f"""
    WITH planes AS (
        SELECT h, {_SQL_W} AS w
        FROM generate_series(0, {LSH_PLANES - 1}) t(h)),
    bits AS (
        SELECT e.vec_id, p.h,
               CASE WHEN {SQL_DOT.format(a='e.embedding', b='p.w')} >= 0
                    THEN 1 ELSE 0 END AS bit
        FROM embeddings e, planes p),
    bands AS (
        SELECT vec_id, h // {LSH_BAND_BITS} AS band,
               sum(bit * (1 << (h % {LSH_BAND_BITS}))) AS band_val
        FROM bits GROUP BY vec_id, h // {LSH_BAND_BITS}),
    canon AS (
        SELECT band, band_val, min(vec_id) AS c
        FROM bands GROUP BY band, band_val),
    edges AS (
        SELECT DISTINCT cn.c AS vec1, b.vec_id AS vec2
        FROM bands b JOIN canon cn
          ON b.band = cn.band AND b.band_val = cn.band_val
        WHERE b.vec_id > cn.c),
    scored AS (
        SELECT vec1, vec2,
               {sql_cosine('x.embedding', 'y.embedding')} AS cos
        FROM edges JOIN embeddings x ON edges.vec1 = x.vec_id
                   JOIN embeddings y ON edges.vec2 = y.vec_id)
    SELECT vec1, vec2, {sql_stable_round4('cos')} AS cosine_sim
    FROM scored WHERE cos >= {EMBDUP_THETA}
    """,
)
def dedup_embedding_pairs_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STAR form of dedup_embedding_pairs — the true 100 TB wall-time fix
    (VERDICT r5 #4, first option): instead of materializing every
    colliding pair, each LSH bucket emits only (bucket-canonical =
    min vec_id) → member edges, so candidates are O(n · n_bands) BY
    CONSTRUCTION — on a boilerplate-collapsed corpus (every vector
    identical) the full pair relation is n²/2 while the star is n-1 per
    band. Exact cosine >= {EMBDUP_THETA} verifies each spoke; feed the
    result straight to dedup_components (the canonical is already each
    star's hub, so components over the star equal components over the
    full graph whenever the hub passes the threshold with its members —
    exact twins always do, which is precisely the collapse case that
    makes the full relation explode).

    vs the siblings: _pairs is the O(colliding-pairs) audit relation,
    _pairs_capped the O(n·k) k-NN graph (bounded OUTPUT, but its window
    still scans all surviving pairs — measured 134 s at the 10× probe),
    _pairs_star the O(n) pipeline default (measured sublinear in the
    full op's pair output). No window, no pair shuffle: one groupBy for
    the bucket min, one equi-join back, two vector lookups per spoke."""
    e = load(spark, sf_dir, "embeddings")
    bands = _lsh_bands(spark, e)
    canon = bands.groupBy("band", "band_val").agg(F.min("vec_id").alias("c"))
    edges = (
        bands.join(canon, ["band", "band_val"])
        .filter(F.col("vec_id") > F.col("c"))
        .select(F.col("c").alias("vec1"), F.col("vec_id").alias("vec2"))
        .distinct()
    )
    x = e.select(
        F.col("vec_id").alias("vec1"),
        F.col("embedding").alias("e1"),
        vec_norm(F.col("embedding")).alias("n1"),
    )
    y = e.select(
        F.col("vec_id").alias("vec2"),
        F.col("embedding").alias("e2"),
        vec_norm(F.col("embedding")).alias("n2"),
    )
    return (
        edges.join(x, "vec1")
        .join(y, "vec2")
        .select(
            "vec1",
            "vec2",
            (
                dot_double(F.col("e1"), F.col("e2"))
                / (F.col("n1") * F.col("n2"))
            ).alias("cos"),
        )
        .filter(F.col("cos") >= EMBDUP_THETA)
        .select("vec1", "vec2", stable_round4(F.col("cos")).alias("cosine_sim"))
    )


# --- embedding outlier screen (per-dim z-score energy) -----------------------

EMB_OUT_SCALE = 1_000_000_000  # per-element z^2 quantization
EMB_OUT_MIN_MZ2 = 2.0          # mean z^2 >= this flags an outlier


@register(
    "emb_outlier_zscore",
    oracle=f"""
    WITH pos AS (
        SELECT vec_id, i - 1 AS dim, embedding[i]::DOUBLE AS v
        FROM embeddings, unnest(generate_series(1, len(embedding))) AS u(i)),
    st AS (
        SELECT dim, count(*) AS n,
               sum(CAST(round(v * 1000000, 0) AS BIGINT)) AS s1,
               sum(CAST(round(v * 1000000, 0) AS BIGINT)
                   * CAST(round(v * 1000000, 0) AS BIGINT)) AS s2
        FROM pos GROUP BY dim),
    zq AS (
        SELECT pos.vec_id,
               CAST(floor(
                   pow((pos.v - st.s1 * 1.0 / 1000000 / st.n)
                       / nullif(sqrt((st.s2 * 1.0 / 1e12) / st.n
                                     - (st.s1 * 1.0 / 1000000 / st.n)
                                     * (st.s1 * 1.0 / 1000000 / st.n)),
                                0.0), 2)
                   * {EMB_OUT_SCALE}) AS BIGINT) AS tq
        FROM pos JOIN st USING (dim)),
    per_vec AS (
        SELECT vec_id, CAST(count(*) AS BIGINT) AS dims,
               CAST(sum(tq) AS BIGINT) AS sq
        FROM zq GROUP BY vec_id)
    SELECT vec_id,
           floor(sq * 1.0 / dims / {EMB_OUT_SCALE} * 10000.0 + 0.5)
               / 10000.0 AS mean_z2,
           sq >= CAST({EMB_OUT_MIN_MZ2} * dims AS BIGINT)
               * {EMB_OUT_SCALE} AS is_outlier
    FROM per_vec ORDER BY vec_id
    """,
)
def emb_outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding OUTLIER screen: each vector's mean per-dimension
    z-score energy against the corpus's per-dim mean/std — the cheap
    whole-corpus filter that catches corrupt/degenerate vectors (NaN-ish
    spikes, wrong-model rows, dead-dim artifacts) before they poison ANN
    buckets or kmeans codebooks. mean z^2 >= {EMB_OUT_MIN_MZ2} flags.

    Determinism: per-dim moments are exact scaled-integer sums, so the
    derived mean/std doubles are bit-identical (division and sqrt are
    IEEE-correctly-rounded on identical inputs); each element's z^2 is
    then quantized floor(z^2 * 1e9) BEFORE the per-vector sum (the JSD
    term discipline), so the reduction is an order-free integer sum and
    the outlier flag is an integer compare.

    Scale shape: one posexplode feeding the |dims|-row stats aggregate
    (map-side combined, the emb_dim_stats shape), broadcast-sized stats
    joined back to the element stream, one per-vector integer rollup."""
    e = load(spark, sf_dir, "embeddings")
    pos = e.select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "dim", F.col("v").cast("double").alias("v"))
    sc = scaled_long(F.col("v"), 1000000)
    st = pos.groupBy("dim").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(sc).alias("s1"),
        F.sum(sc * sc).alias("s2"),
    )
    mean = F.col("s1") * 1.0 / 1000000 / F.col("n")
    std = F.sqrt(
        (F.col("s2") * 1.0 / 1e12) / F.col("n") - mean * mean
    )
    zq = pos.join(F.broadcast(st), "dim").select(
        "vec_id",
        F.floor(
            F.pow((F.col("v") - mean) / F.nullif(std, F.lit(0.0)), 2)
            * EMB_OUT_SCALE
        )
        .cast("long")
        .alias("tq"),
    )
    per_vec = zq.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("dims"),
        F.sum("tq").cast("long").alias("sq"),
    )
    return per_vec.select(
        "vec_id",
        (
            F.floor(
                F.col("sq") * 1.0 / F.col("dims") / EMB_OUT_SCALE * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("mean_z2"),
        (
            F.col("sq")
            >= (F.lit(EMB_OUT_MIN_MZ2) * F.col("dims")).cast("long")
            * EMB_OUT_SCALE
        ).alias("is_outlier"),
    ).orderBy("vec_id")


# --- MMR diverse exemplar selection ------------------------------------------

MMR_K = 3  # exemplars selected per query (rounds unrolled)


@register(
    "llm_mmr_select",
    oracle=f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qemb FROM embeddings
               WHERE vec_id < {N_QUERIES}),
    cand AS (
        SELECT q.qid, c.vec_id AS cid, c.embedding AS cemb,
               {sql_cosine('q.qemb', 'c.embedding')} AS rel
        FROM q JOIN embeddings c ON c.vec_id <> q.qid),
    s1 AS (
        SELECT qid, cid AS cid1, cemb AS emb1, rel AS rel1
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY rel DESC, cid) AS rn
              FROM cand) WHERE rn = 1),
    m2 AS (
        SELECT cand.qid, cand.cid, cand.cemb, cand.rel,
               cand.rel - {sql_cosine('cand.cemb', 's1.emb1')} AS mmr
        FROM cand JOIN s1 ON s1.qid = cand.qid AND cand.cid <> s1.cid1),
    s2 AS (
        SELECT qid, cid AS cid2, cemb AS emb2, rel AS rel2, mmr AS mmr2
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY mmr DESC, cid) AS rn
              FROM m2) WHERE rn = 1),
    m3 AS (
        SELECT m2.qid, m2.cid, m2.rel,
               m2.rel - greatest({sql_cosine('m2.cemb', 's1.emb1')},
                                 {sql_cosine('m2.cemb', 's2.emb2')}) AS mmr
        FROM m2 JOIN s1 ON s1.qid = m2.qid
                JOIN s2 ON s2.qid = m2.qid AND m2.cid <> s2.cid2),
    s3 AS (
        SELECT qid, cid AS cid3, rel AS rel3, mmr AS mmr3
        FROM (SELECT *, row_number() OVER (PARTITION BY qid
                                           ORDER BY mmr DESC, cid) AS rn
              FROM m3) WHERE rn = 1)
    SELECT qid AS query_id, CAST(1 AS BIGINT) AS rank, cid1 AS vec_id,
           {sql_stable_round4('rel1')} AS relevance,
           {sql_stable_round4('rel1')} AS mmr_score
    FROM s1
    UNION ALL
    SELECT qid, 2, cid2, {sql_stable_round4('rel2')},
           {sql_stable_round4('mmr2')} FROM s2
    UNION ALL
    SELECT qid, 3, cid3, {sql_stable_round4('rel3')},
           {sql_stable_round4('mmr3')} FROM s3
    ORDER BY query_id, rank
    """,
)
def llm_mmr_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance exemplar selection (Carbonell &
    Goldstein 1998; lambda = 1/2 so the argmax reduces to
    relevance - max-sim-to-selected): for each query vector, pick
    {MMR_K} exemplars that are relevant AND mutually diverse — the
    context-assembly step of a few-shot/RAG prompt builder, where plain
    top-k returns {MMR_K} paraphrases of the same passage and MMR does
    not. {MMR_K} greedy rounds unrolled relationally.

    Determinism: cosine is the sequential double fold (identical bits
    both engines); every per-round argmax carries the full
    (score desc, vec_id) tie-break; scores subtract identical doubles so
    the selected ids are exact before any rounding.

    Scale shape: relevance is ONE broadcast-queries-to-corpus pass;
    each greedy round joins the candidate relation to the (|queries| x
    round)-row selected set — broadcast-sized — and re-ranks with a
    query-keyed window. At ANN scale the cand relation is replaced by a
    banded candidate set (sim_search_lsh) and the rounds are unchanged."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    cand = (
        F.broadcast(q)
        .join(
            e.select(
                F.col("vec_id").alias("cid"),
                F.col("embedding").alias("cemb"),
            ),
            F.col("cid") != F.col("qid"),
        )
        .select(
            "qid", "cid", "cemb",
            cosine(F.col("qemb"), F.col("cemb")).alias("rel"),
        )
    )

    def argmax(df, score, keep):
        w = W.partitionBy("qid").orderBy(F.col(score).desc(), F.col("cid"))
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("qid", *keep)
        )

    s1 = argmax(
        cand.withColumn("mmr", F.col("rel")),
        "rel",
        [
            F.col("cid").alias("cid1"),
            F.col("cemb").alias("emb1"),
            F.col("rel").alias("rel1"),
        ],
    )
    m2 = (
        cand.join(F.broadcast(s1), "qid")
        .filter(F.col("cid") != F.col("cid1"))
        .select(
            "qid", "cid", "cemb", "rel",
            (F.col("rel") - cosine(F.col("cemb"), F.col("emb1"))).alias(
                "mmr"
            ),
        )
    )
    s2 = argmax(
        m2,
        "mmr",
        [
            F.col("cid").alias("cid2"),
            F.col("cemb").alias("emb2"),
            F.col("rel").alias("rel2"),
            F.col("mmr").alias("mmr2"),
        ],
    )
    m3 = (
        m2.join(F.broadcast(s1.select("qid", "emb1")), "qid")
        .join(F.broadcast(s2.select("qid", "cid2", "emb2")), "qid")
        .filter(F.col("cid") != F.col("cid2"))
        .select(
            "qid", "cid", "rel",
            (
                F.col("rel")
                - F.greatest(
                    cosine(F.col("cemb"), F.col("emb1")),
                    cosine(F.col("cemb"), F.col("emb2")),
                )
            ).alias("mmr"),
        )
    )
    s3 = argmax(
        m3,
        "mmr",
        [
            F.col("cid").alias("cid3"),
            F.col("rel").alias("rel3"),
            F.col("mmr").alias("mmr3"),
        ],
    )
    out = (
        s1.select(
            F.col("qid").alias("query_id"),
            F.lit(1).cast("long").alias("rank"),
            F.col("cid1").alias("vec_id"),
            stable_round4(F.col("rel1")).alias("relevance"),
            stable_round4(F.col("rel1")).alias("mmr_score"),
        )
        .unionAll(
            s2.select(
                F.col("qid"),
                F.lit(2).cast("long"),
                F.col("cid2"),
                stable_round4(F.col("rel2")),
                stable_round4(F.col("mmr2")),
            )
        )
        .unionAll(
            s3.select(
                F.col("qid"),
                F.lit(3).cast("long"),
                F.col("cid3"),
                stable_round4(F.col("rel3")),
                stable_round4(F.col("mmr3")),
            )
        )
    )
    return out.orderBy("query_id", "rank")


# --------------------------------------------------------------------------
# join_set_similarity
# --------------------------------------------------------------------------

# Jaccard threshold 1/2, kept rational so the keep decision is integer-exact
SS_NUM, SS_DEN = 1, 2


@register(
    "join_set_similarity",
    oracle=f"""
    WITH tk AS (
        SELECT doc_id, {SQL_SHINGLES} AS toks
        FROM documents
        WHERE len(regexp_extract_all(text, '[a-z0-9]+')) >= 3),
    pairs AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               len(list_intersect(a.toks, b.toks)) AS i,
               len(a.toks) + len(b.toks)
                   - len(list_intersect(a.toks, b.toks)) AS u
        FROM tk a JOIN tk b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           {sql_stable_round4('CAST(i AS DOUBLE) / CAST(u AS DOUBLE)')}
               AS jaccard
    FROM pairs
    WHERE {SS_DEN} * i >= {SS_NUM} * u
    ORDER BY doc_a, doc_b
    """,
)
def join_set_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join (shingle Jaccard >= 1/2) via PREFIX
    FILTERING (PPJoin family — Xiao et al., WWW 2008; Vernica et al.,
    SIGMOD 2010 for the MapReduce shape).

    Candidate generation: order every 3-gram shingle set rare-first by
    (global document frequency, shingle) — any total order works, rare-
    first minimizes candidates — and emit only the first
    ``n - ceil(t*n) + 1`` elements of each set (the prefix). Two sets
    with Jaccard >= t MUST share a prefix element under a common total
    order, so an equi-join of the exploded prefixes finds every
    qualifying pair while never forming all pairs: at 100 TB the join
    cost tracks prefix-shingle collisions (rare shingles collide
    rarely), the same cost-proportional-to-candidates shape as the
    minhash-LSH band join in dedup.py — but EXACT, no false negatives,
    which is what contamination audits need (LSH at 8 hashes misses
    borderline pairs with calculable probability; this misses none, and
    the quadratic oracle is the ground truth that property is checked
    against).

    ceil(t*n) is evaluated as the integer floor((n + 1) / 2) — t*n in
    doubles is not exact and could shift the prefix boundary by one;
    the keep test is the cross-multiplied integer 2i >= u.
    """
    from .dedup import with_shingles

    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    # The exploded (doc_id, tok) rows are persisted: they feed three
    # consumers (df counts, the prefix ranking, and both verify sides) —
    # narrow rows, cheap to cache, expensive to recompute. explode_outer
    # (sh is never empty) keeps the shingle lambda from being re-run under
    # an inferred size(sh) > 0 filter, so the shingle frame needs no
    # persist of its own.
    sh_df = with_shingles(d).select("doc_id", "sh")
    # n = |set| comes free from size(sh) (sh is array_distinct'd), saving
    # the count(*)-over-doc window the old form paid beside row_number.
    toks = sh_df.select(
        "doc_id",
        F.size("sh").cast("long").alias("n"),
        F.explode_outer("sh").alias("tok"),
    ).persist()
    dfreq = toks.groupBy("tok").agg(F.count("*").alias("df"))
    tw = toks.join(dfreq, "tok")
    # Rare-first total order per doc via a window — fully relational, no
    # collect_list arrays to build, carry through joins, or intersect.
    ranked = tw.select(
        "doc_id",
        "tok",
        F.row_number()
        .over(W.partitionBy("doc_id").orderBy("df", "tok"))
        .alias("pos"),
        "n",
    )
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n")
        - F.floor((F.col("n") + 1) / SS_DEN).cast("int")
        + 1
    )
    # Candidate join with BOTH PPJoin prunes in the join condition:
    # - length filter: J <= min(n)/max(n), so J >= 1/2 needs
    #   2*min(na,nb) >= max(na,nb);
    # - positional filter: a pair colliding at prefix positions (pa, pb)
    #   can share at most min(na-pa, nb-pb) + 1 tokens, and J >= 1/2
    #   needs i >= ceil((na+nb)/3), i.e. 3*(min(na-pa, nb-pb)+1) >=
    #   na+nb. Keeping a pair when ANY colliding prefix token passes is
    #   a superset of PPJoin's first-collision rule — no false negatives.
    # Measured 310k -> 125k candidates at sf0.1.
    # Third materialization boundary: without it the whole prefix tower
    # (dfreq agg + df join + doc_id exchange + rank window) is EXECUTED
    # TWICE — the self-join's broadcast build can never be deduped
    # against the probe side, and AQE stage reuse does not collapse the
    # two shuffle towers either (verified on the final adaptive plan:
    # two identical 7.5 MiB ShuffleQueryStages, zero ReusedExchange).
    # Same persist discipline as toks above; prefix is ~half of
    # toks, so the cache cost class is unchanged.
    prefix = prefix.persist()
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.lit(SS_DEN) * F.least("a.n", "b.n")
                >= F.lit(SS_NUM) * F.greatest("a.n", "b.n")
            )
            & (
                F.lit(SS_NUM + SS_DEN)
                * (
                    F.least(
                        F.col("a.n") - F.col("a.pos"),
                        F.col("b.n") - F.col("b.pos"),
                    )
                    + 1
                )
                >= F.lit(SS_NUM) * (F.col("a.n") + F.col("b.n"))
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
        )
        .distinct()
    )
    # Count-based verification: intersection size via two equi-joins back
    # to the cached token rows and a grouped count — no array columns in
    # the shuffle, no per-pair quadratic array_intersect. J >= 1/2 in
    # integers: 2i >= u = na + nb - i  <=>  3i >= na + nb.
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    ic = (
        cand.join(ta, "doc_a")
        .join(tb, ["doc_b", "tok"])
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("i"))
    )
    ver = ic.filter(
        F.lit(SS_NUM + SS_DEN) * F.col("i")
        >= F.lit(SS_NUM) * (F.col("na") + F.col("nb"))
    )
    return ver.select(
        "doc_a",
        "doc_b",
        stable_round4(
            F.col("i").cast("double")
            / (F.col("na") + F.col("nb") - F.col("i")).cast("double")
        ).alias("jaccard"),
    ).orderBy("doc_a", "doc_b")


# --------------------------------------------------------------------------
# emb_pair_cosine_histogram — blocked pairwise-similarity distribution
# --------------------------------------------------------------------------

COS_HIST_BINS = 20  # width-0.1 bins over [-1, 1]
# size-adaptive MEMBER sampling (round 7, VERDICT r6 "what's wrong" #3):
# blocks under this size histogram EVERY pair exactly; above it a
# deterministic md5 MEMBER-sample keeps ~this many members per block
# BEFORE the self-join, so pair ENUMERATION — not just the cosine — is
# bounded at ~CAP²/2 per block. (Round 6 sampled PAIRS after the join:
# the join still materialized O(m²) rows per block and only the cosine
# was linear.) A random member subset induces a uniform pair sample
# (every pair kept with probability p², independent of the pair), so the
# histogram stays an unbiased estimate of the all-pairs distribution.
COS_HIST_EXACT_BLOCK = 400


@register(
    "emb_pair_cosine_histogram",
    oracle=f"""
    WITH bs AS (
        SELECT label, CAST(count(*) AS BIGINT) AS m
        FROM embeddings GROUP BY 1),
    kept AS (
        SELECT e.* FROM embeddings e JOIN bs ON bs.label = e.label
        WHERE CAST(('0x' || substr(md5('coshist-'
                    || CAST(e.vec_id AS VARCHAR)), 1, 8)) AS BIGINT)
              % greatest(1, m // {COS_HIST_EXACT_BLOCK}) = 0),
    pairs AS (
        SELECT {sql_cosine('a.embedding', 'b.embedding')} AS cs
        FROM kept a JOIN kept b
          ON a.label = b.label AND a.vec_id < b.vec_id),
    binned AS (
        SELECT least(greatest(CAST(floor((cs + 1.0) * 10.0) AS INT), 0),
                     {COS_HIST_BINS - 1}) AS bin
        FROM pairs)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(bin AS DOUBLE) / 10.0 - 1.0 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def emb_pair_cosine_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of pairwise cosine similarity inside label blocks —
    the calibration relation behind every similarity threshold in the
    repo: before picking dedup_embedding_cosine's 0.45 or an ANN radius,
    look at where the mass actually sits (a bimodal histogram separates
    near-dup pairs from background; a flat one says the threshold is
    fiction). 20 width-0.1 bins over [-1, 1].

    Scale shape: pairs come from the SAME label-blocked equi-join the
    dedup op uses — never all-pairs across labels — and a SIZE-ADAPTIVE
    deterministic MEMBER sample bounds the join itself (round-7 fix,
    VERDICT r6: the previous PAIR sample filtered AFTER the join, so
    enumeration was still O(m²) per block): blocks under
    {COS_HIST_EXACT_BLOCK} members keep every member and histogram every
    pair exactly (the test-SF behavior); bigger blocks keep 1 in
    (m div {COS_HIST_EXACT_BLOCK}) members by a salted md5 of the MEMBER
    id — ~{COS_HIST_EXACT_BLOCK} survivors per block — so the self-join
    input, output, and cosine work are all capped per block regardless
    of block size. A uniform member subset induces a uniform pair sample
    (each pair survives with the same p²), so the histogram remains an
    unbiased estimate. The output is a 20-row relation at any SF.

    Determinism: the member keep-rule is an md5 bucket of the salted
    vec_id (identical in both engines); the cosine is the house
    sequential left-to-right fold (bit-identical in both engines); the
    bin index is floor of that identical double, clamped — integer
    counts from then on.
    """
    emb = load(spark, sf_dir, "embeddings")
    bs = emb.groupBy("label").agg(F.count("*").cast("long").alias("m"))
    kept = (
        emb.join(F.broadcast(bs), "label")
        .filter(
            F.expr(
                "pmod(CAST(conv(substr(md5(concat('coshist-',"
                " CAST(vec_id AS STRING))), 1, 8), 16, 10) AS BIGINT),"
                f" greatest(1, m div {COS_HIST_EXACT_BLOCK})) = 0"
            )
        )
        .select("label", "vec_id", "embedding")
    )
    # per-member norms computed BEFORE the self-join (dedup.vec_norm):
    # one array fold per pair instead of cosine()'s three; dot/(na*nb)
    # is bit-identical so the oracle keeps the inline form
    from .dedup import dot_double, vec_norm

    a = kept.select(
        F.col("label").alias("la"),
        F.col("vec_id").alias("ida"),
        F.col("embedding").alias("ea"),
        vec_norm(F.col("embedding")).alias("na"),
    )
    b = kept.select(
        F.col("label").alias("lb"),
        F.col("vec_id").alias("idb"),
        F.col("embedding").alias("eb"),
        vec_norm(F.col("embedding")).alias("nb"),
    )
    pairs = a.join(
        b,
        (F.col("la") == F.col("lb")) & (F.col("ida") < F.col("idb")),
    ).select(
        (
            dot_double(F.col("ea"), F.col("eb"))
            / (F.col("na") * F.col("nb"))
        ).alias("cs")
    )
    binned = pairs.select(
        F.least(
            F.greatest(
                F.floor((F.col("cs") + 1.0) * 10.0).cast("int"), F.lit(0)
            ),
            F.lit(COS_HIST_BINS - 1),
        ).alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(F.count("*").cast("long").alias("n_pairs"))
        .select(
            F.col("bin").cast("long").alias("bin"),
            (F.col("bin").cast("double") / 10.0 - 1.0).alias("bin_lo"),
            "n_pairs",
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# llm_hybrid_rrf — reciprocal-rank fusion of the lexical and dense legs
# --------------------------------------------------------------------------

RRF_K = 60          # the standard damping constant (Cormack et al. 2009)
RRF_SCALE = 10 ** 12  # 1/(k+r) kept as floor(SCALE/(k+r)) — exact integer
RRF_TOP = 20
RRF_QUERY_VEC = 0   # the fixed dense query: embedding of vec_id 0


@register(
    "llm_hybrid_rrf",
    oracle=f"""
    WITH lex_raw AS ({{BM25}}),
    lex AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY score_q DESC, doc_id) AS r_lex
        FROM lex_raw),
    qv AS (SELECT embedding AS q FROM embeddings
           WHERE vec_id = {RRF_QUERY_VEC}),
    dense_scored AS (
        SELECT c.vec_id AS doc_id,
               CAST(floor({sql_cosine('c.embedding', 'qv.q')}
                          * 1000000000.0 + 0.5) AS BIGINT) AS cos_q
        FROM embeddings c CROSS JOIN qv
        WHERE c.vec_id <> {RRF_QUERY_VEC}),
    dense AS (
        SELECT doc_id,
               row_number() OVER (ORDER BY cos_q DESC, doc_id) AS r_dense
        FROM dense_scored
        ORDER BY cos_q DESC, doc_id LIMIT {RRF_TOP}),
    fused AS (
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               coalesce(l.r_lex, 0) AS r_lex,
               coalesce(d.r_dense, 0) AS r_dense,
               (CASE WHEN l.r_lex IS NULL THEN 0
                     ELSE {RRF_SCALE} // ({RRF_K} + l.r_lex) END)
               + (CASE WHEN d.r_dense IS NULL THEN 0
                       ELSE {RRF_SCALE} // ({RRF_K} + d.r_dense) END)
                   AS rrf_q
        FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(r_lex AS BIGINT) AS r_lex,
           CAST(r_dense AS BIGINT) AS r_dense,
           CAST(rrf_q AS BIGINT) AS rrf_q,
           CAST(rrf_q AS DOUBLE) / {RRF_SCALE}.0 AS rrf
    FROM fused
    ORDER BY rrf_q DESC, doc_id LIMIT {RRF_TOP}
    """.replace("{BM25}", "__BM25_ORACLE__"),
)
def llm_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack, Clarke &
    Buettcher 2009 — the score-free fusion every hybrid search stack
    ships): fuse the LEXICAL leg (text_bm25_search's top-{RRF_TOP} for
    its fixed query, composed by calling the registered op) with the
    DENSE leg (quantized-cosine top-{RRF_TOP} against the fixed query
    embedding) by rrf(d) = sum over legs of 1/(k + rank_d), k={RRF_K}.
    Rank positions, not scores, cross the fusion boundary — the reason
    RRF needs no per-leg calibration.

    Determinism: each leg's ranking tie-breaks on doc_id (the dense
    cosine is quantized to an integer at 1e-9 BEFORE ranking); the RRF
    score is the exact integer floor({RRF_SCALE}/(k+r)) summed over
    legs — no float until the final descale. A leg miss contributes 0
    and reports rank 0.

    Scale shape: the lexical leg is the registered BM25 plan unchanged;
    the dense leg broadcasts the 1-row query vector through the
    embedding scan; fusion is a {RRF_TOP}-row full-outer join. At real
    scale the dense leg swaps in sim_search_ivf's bucketed candidates —
    the fusion stage is identical.
    """
    lex = text_bm25_search(spark, sf_dir).select(
        "doc_id",
        "score_q",
    )
    lex = lex.select(
        "doc_id",
        F.row_number()
        .over(W.orderBy(F.col("score_q").desc(), "doc_id"))
        .alias("r_lex"),
    )
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == RRF_QUERY_VEC).select(
        F.col("embedding").alias("q")
    )
    dense = (
        emb.filter(F.col("vec_id") != RRF_QUERY_VEC)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.floor(
                cosine(F.col("embedding"), F.col("q")) * 1000000000.0
                + 0.5
            )
            .cast("long")
            .alias("cos_q"),
        )
        .orderBy(F.col("cos_q").desc(), "doc_id")
        .limit(RRF_TOP)
        .select(
            "doc_id",
            F.row_number()
            .over(W.orderBy(F.col("cos_q").desc(), "doc_id"))
            .alias("r_dense"),
        )
    )
    fused = lex.join(
        dense.withColumnRenamed("doc_id", "d_doc_id"),
        F.col("doc_id") == F.col("d_doc_id"),
        "full_outer",
    ).selectExpr(
        "coalesce(doc_id, d_doc_id) AS doc_id",
        "coalesce(r_lex, 0) AS r_lex",
        "coalesce(r_dense, 0) AS r_dense",
        f"(CASE WHEN r_lex IS NULL THEN 0"
        f" ELSE {RRF_SCALE} div ({RRF_K} + r_lex) END)"
        f" + (CASE WHEN r_dense IS NULL THEN 0"
        f" ELSE {RRF_SCALE} div ({RRF_K} + r_dense) END) AS rrf_q",
    )
    return (
        fused.orderBy(F.col("rrf_q").desc(), "doc_id")
        .limit(RRF_TOP)
        .selectExpr(
            "CAST(doc_id AS BIGINT) AS doc_id",
            "CAST(r_lex AS BIGINT) AS r_lex",
            "CAST(r_dense AS BIGINT) AS r_dense",
            "CAST(rrf_q AS BIGINT) AS rrf_q",
            f"CAST(rrf_q AS DOUBLE) / {RRF_SCALE}.0 AS rrf",
        )
    )


# splice the registered BM25 oracle into the RRF twin now that both are
# registered (decoration-time f-strings can't nest the brace-heavy SQL)
ORACLE["llm_hybrid_rrf"] = ORACLE["llm_hybrid_rrf"].replace(
    "__BM25_ORACLE__", ORACLE["text_bm25_search"]
)
