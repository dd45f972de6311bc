"""One-pass blocked entity resolution (SURVEY.md §2.3 join_fuzzy_topk).

Reference: /root/reference/scripts/bills/vote_matching.py:106-270 — resolve a
free-text voter name to a person: (1) block candidates by state + chamber
(:196-206), (2) exact lower(name)/lower(last_name) match short-circuits
(:124-136), (3) else fuzzy-score all blocked candidates and accept the best
match with score ≥ 80 (:156-168, threshold :178).

Spark shape: one blocked equi-join on the block keys (NOT a cross join;
blocking is what keeps the candidate set per probe small at scale) yields
every candidate pair once. A case-folded exact pair is flagged ``exact``
and scored 1.0; any other pair gets the native ``levenshtein``-ratio score.
Pairs that are exact or reach the threshold feed one
``functions/top1.Top1`` aggregate per probe, ordered (exact DESC, score
DESC, cand_id ASC): the reference's short-circuit is the first sort key,
so an exact match beats any fuzzy score, and exact ties and score ties
both go to the smallest id. The price of the single join is that a probe
with an exact match also scores its other block candidates. Skewed blocks
are AQE's problem (skew-join splitting); pathological blocks can be
salted upstream.

The scorer here is the SQL-expressible levenshtein ratio so the whole
operator is oracle-checkable; a RapidFuzz-style WRatio can be slotted in as a
pandas_udf (rows-only) without changing the plan shape.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..registry import register
from .dedup import sql_stable_round4, stable_round4
from ..functions.exact import scaled_long
from ..functions.top1 import ASC, DESC, Top1
from ..tables import load

DEFAULT_THRESHOLD = 0.8  # mirrors vote_matching.py:178 (score >= 80)


def levenshtein_ratio(a, b) -> F.Column:
    """1 - edit_distance/max_len on case-folded input, in [0, 1]."""
    la, lb = F.lower(a), F.lower(b)
    return 1.0 - F.levenshtein(la, lb) / F.greatest(
        F.length(la), F.length(lb), F.lit(1)
    )


@F.pandas_udf(T.DoubleType())
def wratio_scorer(sa: pd.Series, sb: pd.Series) -> pd.Series:
    """WRatio-family fuzzy score (vote_matching.py:9,161 uses thefuzz's
    WRatio; that lib isn't in this container, so this is the same public
    recipe: max of full-string ratio and sorted-token ratio via stdlib
    SequenceMatcher). Python-resident → Arrow-batched pandas_udf; plans
    using it are rows-only (not SQL-expressible), plan shape unchanged."""
    from difflib import SequenceMatcher

    def score(x, y):
        if x is None or y is None:
            return 0.0
        x, y = x.lower().strip(), y.lower().strip()
        full = SequenceMatcher(None, x, y).ratio()
        tx = " ".join(sorted(x.split()))
        ty = " ".join(sorted(y.split()))
        tok = SequenceMatcher(None, tx, ty).ratio()
        return round(max(full, tok), 4)

    return pd.Series([score(x, y) for x, y in zip(sa, sb)])


def resolve_entities(
    probes: DataFrame,
    candidates: DataFrame,
    block_keys: list[str],
    probe_id: str = "probe_id",
    probe_name: str = "pname",
    cand_id: str = "cand_id",
    cand_name: str = "cname",
    threshold: float = DEFAULT_THRESHOLD,
    scorer=levenshtein_ratio,
) -> DataFrame:
    """Returns (probe_id, matched_id, score, method); probes with no
    acceptable candidate are absent (the reference logs-and-skips them,
    vote_matching.py:266).

    Tie rules: any exact (case-folded equal) candidate beats every fuzzy
    one, whatever its score; exact ties and fuzzy score ties both go to
    the smallest ``cand_id``."""
    p, c = probes.alias("p"), candidates.alias("c")
    pname, cname = F.col(f"p.{probe_name}"), F.col(f"c.{cand_name}")
    exact = F.coalesce(F.lower(pname) == F.lower(cname), F.lit(False))
    pairs = (
        p.join(c, [F.col(f"p.{k}") == F.col(f"c.{k}") for k in block_keys])
        .select(
            F.col(f"p.{probe_id}").alias(probe_id),
            F.col(f"c.{cand_id}").alias(cand_id),
            exact.cast("int").alias("exact"),
            F.when(exact, F.lit(1.0))
            .otherwise(stable_round4(scorer(pname, cname)))
            .alias("score"),
        )
        .filter((F.col("exact") == 1) | (F.col("score") >= threshold))
    )
    best = Top1(pairs, [("exact", DESC), ("score", DESC), (cand_id, ASC)])
    return (
        pairs.groupBy(probe_id)
        .agg(best[cand_id], best["exact"], best["score"])
        .select(
            probe_id,
            F.col(cand_id).alias("matched_id"),
            "score",
            F.when(F.col("exact") == 1, F.lit("exact"))
            .otherwise(F.lit("fuzzy"))
            .alias("method"),
        )
    )


@register(
    "join_fuzzy_topk",
    oracle=f"""
    WITH probes0 AS (
        SELECT s_suppkey AS probe_id, s_nationkey AS block,
               CASE WHEN s_suppkey % 2 = 1
                    THEN lower(substr(s_name, 1, length(s_name) - 1))
                    ELSE s_name END AS pname
        FROM supplier),
    probes AS (
        SELECT *, substr(lower(pname), 15, 3) AS band FROM probes0),
    cands AS (
        SELECT s_suppkey AS cand_id, s_nationkey AS block,
               substr(lower(s_name), 15, 3) AS band, s_name AS cname
        FROM supplier),
    exact AS (
        SELECT probe_id, min(cand_id) AS matched_id, 1.0 AS score,
               'exact' AS method
        FROM probes JOIN cands
          ON probes.block = cands.block AND probes.band = cands.band
         AND lower(pname) = lower(cname)
        GROUP BY probe_id),
    scored AS (
        SELECT p.probe_id, c.cand_id,
               {sql_stable_round4(
                   "1.0 - levenshtein(lower(p.pname), lower(c.cname))"
                   " / greatest(length(lower(p.pname)), length(lower(c.cname)), 1)")}
                   AS score
        FROM probes p JOIN cands c ON p.block = c.block AND p.band = c.band
        WHERE p.probe_id NOT IN (SELECT probe_id FROM exact)),
    fuzzy AS (
        SELECT probe_id, cand_id AS matched_id, score, 'fuzzy' AS method
        FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                           ORDER BY score DESC, cand_id) AS rn
              FROM scored WHERE score >= {DEFAULT_THRESHOLD}) WHERE rn = 1)
    SELECT * FROM exact UNION ALL SELECT * FROM fuzzy
    """,
)
def join_fuzzy_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution demo: odd supplier names are mangled (lowercased,
    last char dropped) so evens resolve as exact matches and odds must be
    recovered by fuzzy score within their block.

    Blocking is COMPOSITE (nation × name-band): nation alone is a
    fixed-cardinality key, so probe and candidate sets inside each block
    both grow with data and the blocked join turns quadratic (SCALE.md r2
    measured 9.1× at the 10× probe — the same failure the reference's
    state+chamber blocking would hit at national scale,
    vote_matching.py:196-206). The second key is a mid-name character
    window, `substr(lower(name), 15, 3)`, computed independently on each
    side's OWN name: it survives edits at the string tail (the mangle
    here, truncation/suffix typos in general) while carrying the
    discriminative characters of this corpus, multiplying block
    cardinality ~100× so per-block candidate lists stay bounded. Edits
    INSIDE the window would need a second blocking pass keyed on a
    different region (multi-pass union) — same plan shape, union of two
    equi-joins. tests/test_operators.py asserts full recall plus
    accuracy ≥ the nation-only blocking (the band actually resolves MORE
    probes correctly: it excludes off-band same-score decoys that used to
    win the cand_id tie-break)."""
    s = load(spark, sf_dir, "supplier")
    probes = s.select(
        F.col("s_suppkey").alias("probe_id"),
        F.col("s_nationkey").alias("block"),
        F.when(
            F.col("s_suppkey") % 2 == 1,
            F.lower(F.expr("substr(s_name, 1, length(s_name) - 1)")),
        )
        .otherwise(F.col("s_name"))
        .alias("pname"),
    ).withColumn("band", F.substring(F.lower(F.col("pname")), 15, 3))
    cands = s.select(
        F.col("s_suppkey").alias("cand_id"),
        F.col("s_nationkey").alias("block"),
        F.substring(F.lower(F.col("s_name")), 15, 3).alias("band"),
        F.col("s_name").alias("cname"),
    )
    return resolve_entities(probes, cands, block_keys=["block", "band"])


@register("join_fuzzy_wratio")
def join_fuzzy_wratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same one-pass resolution plan (one blocked join, one Top1 per
    probe) with the WRatio-family pandas_udf scorer slotted in (rows-only:
    not SQL-expressible). Demonstrates that swapping the Python kernel
    leaves the blocked-join plan shape intact; the UDF scores exact pairs
    too, since Spark evaluates a Python UDF for every row it reaches."""
    s = load(spark, sf_dir, "supplier")
    probes = s.select(
        F.col("s_suppkey").alias("probe_id"),
        F.col("s_nationkey").alias("block"),
        F.when(
            F.col("s_suppkey") % 2 == 1,
            F.lower(F.expr("substr(s_name, 1, length(s_name) - 1)")),
        )
        .otherwise(F.col("s_name"))
        .alias("pname"),
    )
    cands = s.select(
        F.col("s_suppkey").alias("cand_id"),
        F.col("s_nationkey").alias("block"),
        F.col("s_name").alias("cname"),
    )
    return resolve_entities(
        probes, cands, block_keys=["block"], scorer=wratio_scorer
    )


def token_sort_norm(col) -> F.Column:
    """Token-sort normal form: lowercase, tokenize, sort, re-join — the
    canonicalization behind thefuzz's token_sort_ratio (word order stops
    mattering; edit distance then compares the normal forms)."""
    from .dedup import tokens

    return F.array_join(F.array_sort(tokens(F.lower(col))), " ")


SQL_TOKEN_SORT = (
    "array_to_string(list_sort(regexp_extract_all(lower({c}), '[a-z0-9]+')),"
    " ' ')"
)


@register(
    "join_fuzzy_tokensort",
    oracle=f"""
    WITH probes AS (
        SELECT p_partkey AS probe_id, p_brand AS block,
               CASE WHEN p_partkey % 2 = 1
                    THEN regexp_extract(p_name, '[a-z0-9]+$') || ' ' ||
                         regexp_extract(p_name, '^[a-z0-9]+')
                    ELSE p_name END AS pname
        FROM part),
    cands AS (
        SELECT p_partkey AS cand_id, p_brand AS block, p_name AS cname
        FROM part),
    scored AS (
        SELECT p.probe_id, c.cand_id,
               {sql_stable_round4(
                   "1.0 - levenshtein(" + SQL_TOKEN_SORT.format(c="p.pname")
                   + ", " + SQL_TOKEN_SORT.format(c="c.cname") + ")"
                   " / greatest(length(" + SQL_TOKEN_SORT.format(c="p.pname")
                   + "), length(" + SQL_TOKEN_SORT.format(c="c.cname")
                   + "), 1)")} AS score
        FROM probes p JOIN cands c ON p.block = c.block)
    SELECT probe_id, cand_id AS matched_id, score
    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY score DESC, cand_id) AS rn
          FROM scored WHERE score >= {DEFAULT_THRESHOLD})
    WHERE rn = 1
    """,
)
def join_fuzzy_tokensort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort-ratio resolution: odd part names get their WORDS swapped
    ('small ring' → 'ring small'), which plain levenshtein scores poorly
    but the token-sort normal form maps straight back to the original.
    Same blocked-join + top-1-window plan as join_fuzzy_topk with a
    different native scorer — the scorer is a Column→Column function, so
    swapping it costs nothing in plan shape."""
    p = load(spark, sf_dir, "part")
    probes = p.select(
        F.col("p_partkey").alias("probe_id"),
        F.col("p_brand").alias("block"),
        F.when(
            F.col("p_partkey") % 2 == 1,
            F.concat_ws(
                " ",
                F.regexp_extract("p_name", "[a-z0-9]+$", 0),
                F.regexp_extract("p_name", "^[a-z0-9]+", 0),
            ),
        )
        .otherwise(F.col("p_name"))
        .alias("pname"),
    )
    cands = p.select(
        F.col("p_partkey").alias("cand_id"),
        F.col("p_brand").alias("block"),
        F.col("p_name").alias("cname"),
    )
    na, nb = token_sort_norm(F.col("pname")), token_sort_norm(F.col("cname"))
    score = 1.0 - F.levenshtein(na, nb) / F.greatest(
        F.length(na), F.length(nb), F.lit(1)
    )
    w = W.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("cand_id"))
    return (
        probes.join(cands, "block")
        .select("probe_id", "cand_id", stable_round4(score).alias("score"))
        .filter(F.col("score") >= DEFAULT_THRESHOLD)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", F.col("cand_id").alias("matched_id"), "score")
    )


@register(
    "join_fuzzy_multipass",
    oracle=f"""
    WITH probes0 AS (
        SELECT s_suppkey AS probe_id, s_nationkey AS block,
               CASE WHEN s_suppkey % 3 = 1
                    THEN lower(substr(s_name, 1, length(s_name) - 1))
                    WHEN s_suppkey % 3 = 2
                    THEN lower(substr(s_name, 2))
                    ELSE s_name END AS pname
        FROM supplier),
    probes AS (
        SELECT *, substr(lower(pname), 15, 3) AS b_head,
               substr(lower(pname), length(pname) - 2, 3) AS b_tail
        FROM probes0),
    cands AS (
        SELECT s_suppkey AS cand_id, s_nationkey AS block, s_name AS cname,
               substr(lower(s_name), 15, 3) AS b_head,
               substr(lower(s_name), length(s_name) - 2, 3) AS b_tail
        FROM supplier),
    pairs AS (
        SELECT DISTINCT probe_id, pname, cand_id, cname FROM (
            SELECT p.probe_id, p.pname, c.cand_id, c.cname
            FROM probes p JOIN cands c
              ON p.block = c.block AND p.b_head = c.b_head
            UNION ALL
            SELECT p.probe_id, p.pname, c.cand_id, c.cname
            FROM probes p JOIN cands c
              ON p.block = c.block AND p.b_tail = c.b_tail)),
    scored AS (
        SELECT probe_id, cand_id,
               {sql_stable_round4(
                   "1.0 - levenshtein(lower(pname), lower(cname))"
                   " / greatest(length(lower(pname)), length(lower(cname)), 1)")}
                   AS score
        FROM pairs)
    SELECT probe_id, cand_id AS matched_id, score
    FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
                                       ORDER BY score DESC, cand_id) AS rn
          FROM scored WHERE score >= {DEFAULT_THRESHOLD})
    WHERE rn = 1
    """,
)
def join_fuzzy_multipass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PASS blocking — the recall answer when a single band key
    cannot survive every edit class: probes are mangled at the TAIL
    (suppkey%3==1: last char dropped) or at the HEAD (%3==2: first char
    dropped), and each pass blocks on a window anchored at the OPPOSITE
    end (head-anchored chars 15-17 survive tail edits; tail-anchored last
    3 chars survive head edits). Candidate pairs are the UNION of the two
    blocked equi-joins, deduped before scoring — a single edit can break
    at most one pass, so recall holds while each pass keeps its bounded
    bucket cardinality. This is the production ER pattern (union of
    blocking predicates); adding a pass costs one more equi-join, never a
    cross join."""
    s = load(spark, sf_dir, "supplier")
    probes = (
        s.select(
            F.col("s_suppkey").alias("probe_id"),
            F.col("s_nationkey").alias("block"),
            F.when(
                F.col("s_suppkey") % 3 == 1,
                F.lower(F.expr("substr(s_name, 1, length(s_name) - 1)")),
            )
            .when(
                F.col("s_suppkey") % 3 == 2,
                F.lower(F.expr("substr(s_name, 2)")),
            )
            .otherwise(F.col("s_name"))
            .alias("pname"),
        )
        .withColumn("b_head", F.substring(F.lower(F.col("pname")), 15, 3))
        .withColumn(
            "b_tail",
            F.expr("substr(lower(pname), length(pname) - 2, 3)"),
        )
    )
    cands = s.select(
        F.col("s_suppkey").alias("cand_id"),
        F.col("s_nationkey").alias("block"),
        F.col("s_name").alias("cname"),
        F.substring(F.lower(F.col("s_name")), 15, 3).alias("b_head"),
        F.expr("substr(lower(s_name), length(s_name) - 2, 3)").alias("b_tail"),
    )
    p1 = probes.join(cands, ["block", "b_head"]).select(
        "probe_id", "pname", "cand_id", "cname"
    )
    p2 = probes.join(cands, ["block", "b_tail"]).select(
        "probe_id", "pname", "cand_id", "cname"
    )
    pairs = p1.unionByName(p2).distinct()
    score = stable_round4(levenshtein_ratio(F.col("pname"), F.col("cname")))
    w = W.partitionBy("probe_id").orderBy(F.col("score").desc(), F.col("cand_id"))
    return (
        pairs.select("probe_id", "cand_id", score.alias("score"))
        .filter(F.col("score") >= DEFAULT_THRESHOLD)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("probe_id", F.col("cand_id").alias("matched_id"), "score")
    )


# --- Fellegi–Sunter probabilistic record linkage ---------------------------

FS_BLOCK = 50          # household/geo blocking proxy: constant block size,
#                        so candidate pairs grow LINEARLY with the data
FS_B_OFFSET = 1_000_000_000
FS_SCALE = 1_000_000   # micro-units for the quantized log2 weights
FS_CUT = 3_000_000     # review threshold: 3.0 in log2 odds
# m-probabilities (P(field agrees | true match)) — fixed model constants;
# the perturbations below make them roughly true (name typo'd 1/3 of the
# time, nation wrong 1/7, balance shifted 1/5, segment never touched)
FS_M = {"name": 0.65, "nation": 0.85, "band": 0.8, "seg": 0.95}


def _fs_weight_sql(field: str, num: str, den: str) -> tuple[str, str]:
    """Quantized (agree, disagree) log2 weights from the m constant and the
    exact-integer u estimate num/den: u = P(agree | random pair)."""
    m = FS_M[field]
    wa = (
        f"CAST(floor(ln({m} * {den} / {num}) / ln(2.0)"
        f" * {FS_SCALE} + 0.5) AS BIGINT)"
    )
    wd = (
        f"CAST(floor(ln({1 - m} * {den} / ({den} - {num})) / ln(2.0)"
        f" * {FS_SCALE} + 0.5) AS BIGINT)"
    )
    return wa, wd


def _register_fs_score() -> None:
    u_cte = """
    a AS (
        SELECT c_custkey AS a_id, c_name AS name_a,
               c_nationkey AS nation_a,
               CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band_a,
               c_mktsegment AS seg_a,
               c_custkey // {blk} AS blk
        FROM customer),
    b AS (
        SELECT c_custkey + {off} AS b_id, c_custkey AS b_orig,
               CASE WHEN c_custkey % 3 = 0
                    THEN substr(c_name, 1, length(c_name) - 1)
                    ELSE c_name END AS name_b,
               CASE WHEN c_custkey % 7 = 0
                    THEN (c_nationkey + 1) % 25
                    ELSE c_nationkey END AS nation_b,
               CAST(floor(CASE WHEN c_custkey % 5 = 0
                               THEN c_acctbal + 10.0
                               ELSE c_acctbal END / 1000.0) AS BIGINT)
                   AS band_b,
               c_mktsegment AS seg_b,
               c_custkey // {blk} AS blk
        FROM customer),
    na AS (SELECT count(*) AS n FROM a),
    nb AS (SELECT count(*) AS n FROM b),
    u_name AS (
        SELECT sum(ca.n * cb.n) AS num FROM
            (SELECT name_a AS v, count(*) AS n FROM a GROUP BY 1) ca
            JOIN (SELECT name_b AS v, count(*) AS n FROM b GROUP BY 1) cb
              ON ca.v = cb.v),
    u_nation AS (
        SELECT sum(ca.n * cb.n) AS num FROM
            (SELECT nation_a AS v, count(*) AS n FROM a GROUP BY 1) ca
            JOIN (SELECT nation_b AS v, count(*) AS n FROM b GROUP BY 1) cb
              ON ca.v = cb.v),
    u_band AS (
        SELECT sum(ca.n * cb.n) AS num FROM
            (SELECT band_a AS v, count(*) AS n FROM a GROUP BY 1) ca
            JOIN (SELECT band_b AS v, count(*) AS n FROM b GROUP BY 1) cb
              ON ca.v = cb.v),
    u_seg AS (
        SELECT sum(ca.n * cb.n) AS num FROM
            (SELECT seg_a AS v, count(*) AS n FROM a GROUP BY 1) ca
            JOIN (SELECT seg_b AS v, count(*) AS n FROM b GROUP BY 1) cb
              ON ca.v = cb.v)
    """.format(blk=FS_BLOCK, off=FS_B_OFFSET)

    wn = _fs_weight_sql("name", "u_name.num", "(na.n * nb.n)")
    wt = _fs_weight_sql("nation", "u_nation.num", "(na.n * nb.n)")
    wb = _fs_weight_sql("band", "u_band.num", "(na.n * nb.n)")
    ws = _fs_weight_sql("seg", "u_seg.num", "(na.n * nb.n)")

    @register(
        "resolve_fs_score",
        oracle=f"""
        WITH {u_cte},
        w AS (
            SELECT {wn[0]} AS wa_name, {wn[1]} AS wd_name,
                   {wt[0]} AS wa_nation, {wt[1]} AS wd_nation,
                   {wb[0]} AS wa_band, {wb[1]} AS wd_band,
                   {ws[0]} AS wa_seg, {ws[1]} AS wd_seg
            FROM na, nb, u_name, u_nation, u_band, u_seg),
        pairs AS (
            SELECT a.a_id, b.b_id, b.b_orig,
                   (CASE WHEN a.name_a = b.name_b
                         THEN w.wa_name ELSE w.wd_name END)
                 + (CASE WHEN a.nation_a = b.nation_b
                         THEN w.wa_nation ELSE w.wd_nation END)
                 + (CASE WHEN a.band_a = b.band_b
                         THEN w.wa_band ELSE w.wd_band END)
                 + (CASE WHEN a.seg_a = b.seg_b
                         THEN w.wa_seg ELSE w.wd_seg END) AS score_q
            FROM a JOIN b ON a.blk = b.blk CROSS JOIN w)
        SELECT a_id, b_id,
               CAST(score_q AS BIGINT) AS score_q,
               floor(score_q / {FS_SCALE}.0 * 10000.0 + 0.5) / 10000.0
                   AS log2_odds,
               a_id = b_orig AS is_true_match
        FROM pairs WHERE score_q >= {FS_CUT}
        """,
    )
    def resolve_fs_score(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Fellegi–Sunter probabilistic record linkage (the 1969 model
        behind every production matcher, incl. the person-resolution the
        reference does imperatively in scripts/people): source B is a
        deterministically dirtied copy of the customer table (name typos,
        wrong nations, shifted balances), candidate pairs come from a
        constant-size household/geo block, and each pair's match score is
        the sum of per-field log2(m/u) agreement / log2((1-m)/(1-u))
        disagreement weights. m is the model constant; u — the chance a
        RANDOM pair agrees — is ESTIMATED FROM THE DATA as an exact
        integer ratio (Σ freqA·freqB over the cross size). Pairs above
        the {FS_CUT / FS_SCALE} log2-odds review cut are emitted with
        their truth bit, so precision/recall of the cut is visible.

        Determinism: u ratios are exact integers, the eight weights are
        quantized to {FS_SCALE}-scaled BIGINTs once (1-row frame), and
        per-pair scores are 4-term INTEGER sums. Scale shape: the four
        frequency joins and the weight row are tiny aggregates (domain-
        bounded) joined in by broadcast; the pair join is a block
        equi-join whose block size is CONSTANT ({FS_BLOCK}), so pair
        count grows linearly with the sources, never quadratically."""
        c = load(spark, sf_dir, "customer")
        a = c.select(
            F.col("c_custkey").alias("a_id"),
            F.col("c_name").alias("name_a"),
            F.col("c_nationkey").alias("nation_a"),
            F.floor(F.col("c_acctbal") / 1000.0).cast("long").alias(
                "band_a"
            ),
            F.col("c_mktsegment").alias("seg_a"),
            F.expr(f"c_custkey div {FS_BLOCK}").alias("blk"),
        )
        b = c.select(
            (F.col("c_custkey") + FS_B_OFFSET).alias("b_id"),
            F.col("c_custkey").alias("b_orig"),
            F.when(
                F.col("c_custkey") % 3 == 0,
                F.expr("substr(c_name, 1, length(c_name) - 1)"),
            )
            .otherwise(F.col("c_name"))
            .alias("name_b"),
            F.when(
                F.col("c_custkey") % 7 == 0,
                (F.col("c_nationkey") + 1) % 25,
            )
            .otherwise(F.col("c_nationkey"))
            .alias("nation_b"),
            F.floor(
                F.when(
                    F.col("c_custkey") % 5 == 0, F.col("c_acctbal") + 10.0
                ).otherwise(F.col("c_acctbal"))
                / 1000.0
            )
            .cast("long")
            .alias("band_b"),
            F.col("c_mktsegment").alias("seg_b"),
            F.expr(f"c_custkey div {FS_BLOCK}").alias("blk"),
        )

        def freq_num(col_a: str, col_b: str) -> DataFrame:
            ca = a.groupBy(F.col(col_a).alias("v")).agg(
                F.count(F.lit(1)).alias("na_")
            )
            cb = b.groupBy(F.col(col_b).alias("v")).agg(
                F.count(F.lit(1)).alias("nb_")
            )
            # DECIMAL product: na_*nb_ are per-value row counts of the
            # two sides — a dominant value on two fact-scaled inputs
            # (e.g. 50% nulls at 1e10 rows each) puts a single product
            # at 2.5e19 > Long.MAX, wrapping a LONG sum silently while
            # the DuckDB twin stays exact in HUGEINT. The relation is
            # |distinct values| rows, so decimal costs nothing; the
            # agreement weight itself is log-ratio double either way.
            return ca.join(cb, "v").agg(
                F.sum(
                    F.col("na_").cast("decimal(38,0)") * F.col("nb_")
                ).alias("num")
            )

        na = a.agg(F.count(F.lit(1)).alias("n_a"))
        nb = b.agg(F.count(F.lit(1)).alias("n_b"))

        def weights(field: str, num_df: DataFrame, wa: str, wd: str):
            m = FS_M[field]
            # decimal for the same reason as freq_num: n_a*n_b wraps
            # LONG once both sides exceed ~3e9 rows; 1-row relation.
            den = F.col("n_a").cast("decimal(38,0)") * F.col("n_b")
            j = num_df.join(na).join(nb)
            return j.select(
                F.floor(
                    F.log(m * den / F.col("num")) / F.log(F.lit(2.0))
                    * FS_SCALE
                    + 0.5
                )
                .cast("long")
                .alias(wa),
                F.floor(
                    F.log((1 - m) * den / (den - F.col("num")))
                    / F.log(F.lit(2.0))
                    * FS_SCALE
                    + 0.5
                )
                .cast("long")
                .alias(wd),
            )

        w = (
            weights("name", freq_num("name_a", "name_b"), "wa_name", "wd_name")
            .join(
                weights(
                    "nation",
                    freq_num("nation_a", "nation_b"),
                    "wa_nation",
                    "wd_nation",
                )
            )
            .join(
                weights(
                    "band", freq_num("band_a", "band_b"), "wa_band", "wd_band"
                )
            )
            .join(
                weights("seg", freq_num("seg_a", "seg_b"), "wa_seg", "wd_seg")
            )
        )
        agree = lambda fa, fb, wa, wd: F.when(  # noqa: E731
            F.col(fa) == F.col(fb), F.col(wa)
        ).otherwise(F.col(wd))
        pairs = a.join(b, "blk").join(F.broadcast(w))
        score = (
            agree("name_a", "name_b", "wa_name", "wd_name")
            + agree("nation_a", "nation_b", "wa_nation", "wd_nation")
            + agree("band_a", "band_b", "wa_band", "wd_band")
            + agree("seg_a", "seg_b", "wa_seg", "wd_seg")
        )
        return (
            pairs.select(
                "a_id",
                "b_id",
                score.cast("long").alias("score_q"),
                (F.col("a_id") == F.col("b_orig")).alias("is_true_match"),
            )
            .filter(F.col("score_q") >= FS_CUT)
            .select(
                "a_id",
                "b_id",
                "score_q",
                (
                    F.floor(F.col("score_q") / float(FS_SCALE) * 10000.0 + 0.5)
                    / 10000.0
                ).alias("log2_odds"),
                "is_true_match",
            )
        )


_register_fs_score()


# --------------------------------------------------------------------------
# resolve_survivorship — golden-record merge across source systems
# --------------------------------------------------------------------------


@register(
    "resolve_survivorship",
    oracle="""
    WITH src_a AS (
        SELECT c_custkey AS k, 1 AS prio, c_custkey % 5 AS fresh,
               CASE WHEN c_custkey % 3 = 0 THEN NULL
                    ELSE CAST(round(c_acctbal * 100, 0) AS BIGINT)
               END AS bal,
               CASE WHEN c_custkey % 4 = 0 THEN NULL
                    ELSE c_mktsegment END AS seg
        FROM customer WHERE c_custkey % 7 <> 0),
    src_b AS (
        SELECT c_custkey AS k, 2 AS prio, (c_custkey * 3) % 5 AS fresh,
               CASE WHEN c_custkey % 2 = 0 THEN NULL
                    ELSE CAST(round(c_acctbal * 100, 0) AS BIGINT) + 777
               END AS bal,
               CASE WHEN c_custkey % 5 = 0 THEN NULL
                    ELSE lower(c_mktsegment) END AS seg
        FROM customer WHERE c_custkey % 11 <> 0),
    u AS (SELECT * FROM src_a UNION ALL SELECT * FROM src_b),
    ranked AS (
        SELECT k, prio, fresh, bal, seg,
               row_number() OVER (
                   PARTITION BY k
                   ORDER BY (bal IS NOT NULL) DESC, fresh DESC, prio)
                   AS rn_bal,
               row_number() OVER (
                   PARTITION BY k
                   ORDER BY (seg IS NOT NULL) DESC, fresh DESC, prio)
                   AS rn_seg
        FROM u)
    SELECT k AS c_custkey,
           CAST(count(*) AS BIGINT) AS n_sources,
           COALESCE(max(CASE WHEN rn_bal = 1 THEN bal END), -1)
               AS golden_acctbal_cents,
           COALESCE(max(CASE WHEN rn_seg = 1 THEN seg END), '')
               AS golden_segment,
           CAST(CASE WHEN count(DISTINCT bal) > 1 THEN 1 ELSE 0 END
               AS BIGINT) AS bal_conflict
    FROM ranked GROUP BY k
    """,
)
def resolve_survivorship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship merge — the MDM step AFTER entity
    resolution has clustered records: per matched key, each COLUMN
    independently takes the value from the freshest source that has it
    non-null (source priority breaks freshness ties), so the golden row
    can mix columns from different systems. The reference's upsert keeps
    whole-row last-writer (database.py:52-73); survivorship is the
    per-column generalization every warehouse MDM layer ends up needing.

    Two deterministic 'source systems' are derived from customer (key-mod
    presence, per-source freshness counters, disjoint null patterns and a
    divergent balance in source B) so the expected merge exercises every
    rule: fresher-wins, null-skipped, priority tie-break, and the
    bal_conflict audit flag marks keys where sources disagree.

    Scale: one union scan, one shuffle on the entity key serving BOTH
    per-column row_number windows and the final rollup — the per-column
    windows share the partition, so k columns cost k in-memory sorts of
    an ~2-row-per-key partition, never k shuffles. No driver loops.
    """
    c = load(spark, sf_dir, "customer")
    bal_c = scaled_long(F.col("c_acctbal"), 100)
    src_a = c.filter(F.col("c_custkey") % 7 != 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(1).alias("prio"),
        (F.col("c_custkey") % 5).alias("fresh"),
        F.when(F.col("c_custkey") % 3 == 0, F.lit(None).cast("long"))
        .otherwise(bal_c)
        .alias("bal"),
        F.when(F.col("c_custkey") % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("c_mktsegment"))
        .alias("seg"),
    )
    src_b = c.filter(F.col("c_custkey") % 11 != 0).select(
        F.col("c_custkey").alias("k"),
        F.lit(2).alias("prio"),
        (F.col("c_custkey") * 3 % 5).alias("fresh"),
        F.when(F.col("c_custkey") % 2 == 0, F.lit(None).cast("long"))
        .otherwise(bal_c + 777)
        .alias("bal"),
        F.when(F.col("c_custkey") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.lower(F.col("c_mktsegment")))
        .alias("seg"),
    )
    u = src_a.unionByName(src_b)
    wk = W.partitionBy("k")
    ranked = u.select(
        "k",
        "bal",
        "seg",
        F.row_number()
        .over(
            wk.orderBy(
                F.col("bal").isNotNull().desc(), F.col("fresh").desc(),
                "prio",
            )
        )
        .alias("rn_bal"),
        F.row_number()
        .over(
            wk.orderBy(
                F.col("seg").isNotNull().desc(), F.col("fresh").desc(),
                "prio",
            )
        )
        .alias("rn_seg"),
    )
    return ranked.groupBy("k").agg(
        F.count("*").cast("long").alias("n_sources"),
        F.coalesce(
            F.max(F.when(F.col("rn_bal") == 1, F.col("bal"))), F.lit(-1)
        ).alias("golden_acctbal_cents"),
        F.coalesce(
            F.max(F.when(F.col("rn_seg") == 1, F.col("seg"))), F.lit("")
        ).alias("golden_segment"),
        F.when(F.countDistinct("bal") > 1, 1)
        .otherwise(0)
        .cast("long")
        .alias("bal_conflict"),
    ).select(
        F.col("k").alias("c_custkey"),
        "n_sources",
        "golden_acctbal_cents",
        "golden_segment",
        "bal_conflict",
    )


# --------------------------------------------------------------------------
# join_phonetic_block — soundex blocking with a SHARED expression text
# --------------------------------------------------------------------------

# Simplified American Soundex (H/W treated like vowels: code 0, i.e. they
# break runs — the common "simplified" variant; documented because the
# NARA-refined rule treats H/W as transparent). Built from translate /
# replace / substr / rpad ONLY — functions with identical signatures and
# semantics in Spark SQL and DuckDB — so the exact same expression text
# runs in both engines (regexp_replace is avoided on purpose: its
# signature differs across the two engines, and DuckDB's RE2 has no
# backreferences for run-collapsing).
_SND_FROM = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_SND_TO = "01230120022455012623010202"


def sql_soundex(col: str) -> str:
    """Shared-text soundex over an UPPERCASE letters-only token."""
    d = f"translate({col}, '{_SND_FROM}', '{_SND_TO}')"
    # collapse runs of identical digits: each replace pass halves a run
    # (left-to-right non-overlapping), 6 passes handle runs up to 64
    for _ in range(6):
        for digit in "0123456":
            d = f"replace({d}, '{digit}{digit}', '{digit}')"
    tail_nz = f"replace(substr({d}, 2), '0', '')"
    return f"(substr({col}, 1, 1) || rpad(substr({tail_nz}, 1, 3), 3, '0'))"


_PH_TOK = "upper(split_part(p_name, ' ', 1))"
# typo model: drop every vowel after the first character — soundex codes
# are (near-)invariant under this distortion, which is exactly why
# phonetic blocking recovers such typos while equality blocking cannot
_PH_PROBE = (
    f"(substr({_PH_TOK}, 1, 1) || translate(substr({_PH_TOK}, 2),"
    " 'AEIOU', ''))"
)


@register(
    "join_phonetic_block",
    oracle=f"""
    WITH catalog AS (
        SELECT DISTINCT {_PH_TOK} AS tok FROM part),
    cat_coded AS (
        SELECT tok, {sql_soundex('tok')} AS code FROM catalog),
    probes AS (
        SELECT DISTINCT {_PH_PROBE} AS probe_tok, {_PH_TOK} AS orig_tok
        FROM part),
    probe_coded AS (
        SELECT probe_tok, orig_tok, {sql_soundex('probe_tok')} AS code
        FROM probes),
    cand AS (
        SELECT p.probe_tok, p.orig_tok, p.code, c.tok AS cand_tok,
               levenshtein(p.probe_tok, c.tok) AS lev,
               row_number() OVER (
                   PARTITION BY p.probe_tok, p.orig_tok
                   ORDER BY levenshtein(p.probe_tok, c.tok), c.tok)
                   AS rn
        FROM probe_coded p JOIN cat_coded c ON p.code = c.code)
    SELECT probe_tok, orig_tok, code AS block_code,
           cand_tok AS matched_tok, CAST(lev AS BIGINT) AS lev,
           CAST(CASE WHEN cand_tok = orig_tok THEN 1 ELSE 0 END AS BIGINT)
               AS is_correct
    FROM cand WHERE rn = 1
    """,
)
def join_phonetic_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic-blocking fuzzy join: vowel-dropped 'typo' probes are
    matched back to the part-name vocabulary by SOUNDEX-code equality,
    then verified and ranked by levenshtein (token tie-break). The
    phonetic code is the BLOCK key — candidate pairs are an equi-join on
    a 4-char code, never a cross product — which is the classic
    complement to the engine's other blocking schemes (prefix blocks in
    join_fuzzy_topk, LSH bands in dedup, grid cells in spatial).
    Reference analogue: name matching in vote_matching.py:160-168, which
    brute-forces scorer calls; phonetic blocking is how that survives a
    vocabulary 1000x larger.

    The soundex implementation is a single expression TEXT shared
    verbatim by both engines (sql_soundex) — translate digit-mapping,
    replace-chain run collapse, zero-strip, rpad — so the hash compare
    pins the whole phonetic algebra, not just the join.

    Scale: vocabulary relations are distinct-collapsed before coding;
    the block join is an equi-join whose fan-out is the phonetic bucket
    size (bounded by vocabulary homophony, independent of corpus rows).
    """
    part = load(spark, sf_dir, "part")
    catalog = part.selectExpr(f"{_PH_TOK} AS tok").distinct()
    cat_coded = catalog.selectExpr(
        "tok", f"{sql_soundex('tok')} AS code"
    )
    probes = part.selectExpr(
        f"{_PH_PROBE} AS probe_tok", f"{_PH_TOK} AS orig_tok"
    ).distinct()
    probe_coded = probes.selectExpr(
        "probe_tok", "orig_tok", f"{sql_soundex('probe_tok')} AS code"
    )
    cand = (
        probe_coded.alias("p")
        .join(F.broadcast(cat_coded.alias("c")), "code")
        .select(
            "probe_tok",
            "orig_tok",
            "code",
            F.col("c.tok").alias("cand_tok"),
            F.levenshtein("probe_tok", F.col("c.tok")).alias("lev"),
        )
    )
    ranked = cand.withColumn(
        "rn",
        F.row_number().over(
            W.partitionBy("probe_tok", "orig_tok").orderBy(
                "lev", "cand_tok"
            )
        ),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "probe_tok",
        "orig_tok",
        F.col("code").alias("block_code"),
        F.col("cand_tok").alias("matched_tok"),
        F.col("lev").cast("long").alias("lev"),
        (F.col("cand_tok") == F.col("orig_tok"))
        .cast("long")
        .alias("is_correct"),
    )
