"""Unit tests for the custom operators on tiny hand-built frames —
the reference-shaped assertions DuckDB can't oracle (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from repcheck_data_integration_spark.operators.spatial import (
    bbox_grid_join,
    polygons_intersect,
)
from repcheck_data_integration_spark.operators.upsert import merge_upsert


def test_merge_upsert_preserves_created_at(spark):
    """database.py:52-73 semantics: ON CONFLICT updates every non-pk column
    EXCEPT created_at (:68 pops it from the update set)."""
    t0 = dt.datetime(2020, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    target = spark.createDataFrame(
        [("a", "old", t0), ("b", "keep", t0)], ["id", "val", "created_at"]
    )
    source = spark.createDataFrame(
        [("a", "new", t1), ("c", "ins", t1)], ["id", "val", "created_at"]
    )
    out = {
        r["id"]: r
        for r in merge_upsert(target, source, keys=["id"]).collect()
    }
    assert len(out) == 3
    assert out["a"]["val"] == "new"
    assert out["a"]["created_at"] == t0  # preserved on update
    assert out["b"]["val"] == "keep"
    assert out["c"]["val"] == "ins"
    assert out["c"]["created_at"] == t1  # taken from source on insert


def test_merge_upsert_in_batch_last_writer_wins(spark):
    target = spark.createDataFrame([("a", 0, 0)], ["id", "val", "ver"])
    source = spark.createDataFrame(
        [("a", 1, 1), ("a", 2, 2), ("a", 9, 1)], ["id", "val", "ver"]
    )
    out = merge_upsert(
        target, source, keys=["id"], version_cols=["ver"], preserve=()
    ).collect()
    assert len(out) == 1 and out[0]["val"] == 2


def test_merge_upsert_equal_version_tiebreak(spark):
    """The SURVEY §7 'same-key-twice' edge with an exact version TIE
    (VERDICT r5 #6): within a batch, rows tied on every version column
    resolve by the remaining target columns DESC NULLS LAST — deterministic
    under any input partitioning/order, pinned to the documented winner."""
    target = spark.createDataFrame([("a", "t", 0)], ["id", "val", "ver"])
    tied = [("a", "x", 7), ("a", "z", 7), ("a", "y", 7), ("a", None, 7)]
    for perm in (tied, tied[::-1], tied[2:] + tied[:2]):
        for nparts in (1, 4):
            source = spark.createDataFrame(perm, ["id", "val", "ver"]).repartition(
                nparts
            )
            out = merge_upsert(
                target, source, keys=["id"], version_cols=["ver"], preserve=()
            ).collect()
            # ver ties → 'val' DESC NULLS LAST → 'z' wins, nulls never win
            assert len(out) == 1 and out[0]["val"] == "z"


def test_merge_upsert_rejects_source_missing_target_columns(spark):
    """A source that lacks target columns fails with a named error (a
    check that survives ``python -O``), listing what is missing."""
    target = spark.createDataFrame([("a", 1, 0)], ["id", "val", "ver"])
    source = spark.createDataFrame([("a",)], ["id"])
    with pytest.raises(ValueError, match=r"\['val', 'ver'\]"):
        merge_upsert(target, source, keys=["id"], preserve=())


def test_merge_upsert_successive_batches_equal_version(spark):
    """ACROSS batches the later merge wins on a matched key even when the
    version column ties — source-wins-on-match, matching the reference's
    last-statement-wins ON CONFLICT loop (database.py:52-73)."""
    target = spark.createDataFrame([("a", "t", 0)], ["id", "val", "ver"])
    b1 = spark.createDataFrame([("a", "first", 5), ("b", "b1", 5)], ["id", "val", "ver"])
    b2 = spark.createDataFrame([("a", "second", 5), ("c", "c2", 5)], ["id", "val", "ver"])
    step1 = merge_upsert(target, b1, keys=["id"], version_cols=["ver"], preserve=())
    step2 = merge_upsert(step1, b2, keys=["id"], version_cols=["ver"], preserve=())
    out = {r["id"]: r["val"] for r in step2.collect()}
    assert out == {"a": "second", "b": "b1", "c": "c2"}


def test_bbox_grid_join_matches_naive(spark):
    """Grid-bucketed join must equal the naive theta join for any cell size,
    including rects spanning many cells and negative coordinates."""
    import itertools

    lrows = [
        (i, float(x0), float(y0), float(x0 + w), float(y0 + h))
        for i, (x0, y0, w, h) in enumerate(
            [(-5, -5, 3, 3), (0, 0, 10, 1), (2, 2, 1, 8), (7, -2, 4, 4), (100, 100, 1, 1)]
        )
    ]
    rrows = [
        (j, float(x0), float(y0), float(x0 + 2), float(y0 + 2))
        for j, (x0, y0) in enumerate(
            [(-4, -4), (1, 0), (2, 9), (9, 0), (50, 50), (101, 101)]
        )
    ]
    left = spark.createDataFrame(lrows, ["lid", "lx0", "ly0", "lx1", "ly1"])
    right = spark.createDataFrame(rrows, ["rid", "rx0", "ry0", "rx1", "ry1"])
    naive = {
        (l[0], r[0])
        for l, r in itertools.product(lrows, rrows)
        if l[1] <= r[3] and l[3] >= r[1] and l[2] <= r[4] and l[4] >= r[2]
    }
    for cell in (1.0, 3.0, 16.0):
        got = {
            (r["lid"], r["rid"])
            for r in bbox_grid_join(
                left,
                right,
                cell=cell,
                left_bbox=("lx0", "ly0", "lx1", "ly1"),
                right_bbox=("rx0", "ry0", "rx1", "ry1"),
            ).collect()
        }
        assert got == naive, f"cell={cell}"


def _poly(*pts):
    return json.dumps({"type": "Polygon", "coordinates": [list(pts) + [list(pts[0])]]})


def test_polygons_intersect_kernel():
    sq = _poly([0, 0], [4, 0], [4, 4], [0, 4])
    inner = _poly([1, 1], [2, 1], [2, 2], [1, 2])          # contained
    crossing = _poly([3, 3], [6, 3], [6, 6], [3, 6])       # edge crossing
    disjoint = _poly([10, 10], [11, 10], [11, 11], [10, 11])
    touching = _poly([4, 0], [8, 0], [8, 4], [4, 4])       # shared edge
    assert polygons_intersect(sq, inner)
    assert polygons_intersect(inner, sq)
    assert polygons_intersect(sq, crossing)
    assert not polygons_intersect(sq, disjoint)
    assert polygons_intersect(sq, touching)

    # diamonds whose bboxes overlap but shapes don't — the case the bbox
    # prefilter alone gets wrong and the refine must catch
    d1 = _poly([0, 2], [2, 0], [4, 2], [2, 4])
    far_corner = _poly([3.8, 3.8], [4.6, 3.8], [4.6, 4.6], [3.8, 4.6])
    assert not polygons_intersect(d1, far_corner)


def test_fuzzy_golden_votes(spark):
    """Golden micro-fixture from vote_matching.py:273-319: 'Baldwin (D-WI)'
    style voter strings resolve to the right person within the state block;
    sub-threshold garbage stays unmatched."""
    from repcheck_data_integration_spark.operators.resolve import resolve_entities

    probes = spark.createDataFrame(
        [
            (1, "WI", "tammy baldwin"),     # exact (case-folded)
            (2, "WI", "tammy boldwin"),     # fuzzy typo
            (3, "TX", "ted cruz"),          # exact in another block
            (4, "WI", "zzzzzz qqqqqq"),     # no acceptable candidate
        ],
        ["probe_id", "block", "pname"],
    )
    cands = spark.createDataFrame(
        [
            (100, "WI", "Tammy Baldwin"),
            (101, "WI", "Ron Johnson"),
            (102, "TX", "Ted Cruz"),
            (103, "TX", "John Cornyn"),
        ],
        ["cand_id", "block", "cname"],
    )
    out = {
        r["probe_id"]: (r["matched_id"], r["method"])
        for r in resolve_entities(probes, cands, ["block"]).collect()
    }
    assert out[1] == (100, "exact")
    assert out[2] == (100, "fuzzy")
    assert out[3] == (102, "exact")
    assert 4 not in out


def test_resolve_entities_tie_rules(spark):
    """The resolver's tie rules: exact (case-folded) beats fuzzy whatever
    the ids and scores, exact ties and fuzzy score ties go to the smallest
    cand_id, and a NULL probe name resolves to nothing."""
    from repcheck_data_integration_spark.operators.resolve import resolve_entities

    probes = spark.createDataFrame(
        [
            (1, "a", "Smith"),  # exact twice (ids 10, 11), fuzzy id 8 >= 0.8
            (2, "a", "smyth"),  # differs from cand 9 only in case
            (3, "a", None),
            (4, "b", "jone"),  # 0.8 against both 19 and 21, 0.6 against 20
        ],
        "probe_id long, block string, pname string",
    )
    cands = spark.createDataFrame(
        [
            (10, "a", "SMITH"),
            (11, "a", "smith"),
            (9, "a", "Smyth"),
            (8, "a", "Smithe"),
            (21, "b", "Jones"),
            (20, "b", "Jonas"),
            (19, "b", "Jonee"),
        ],
        "cand_id long, block string, cname string",
    )
    out = {
        r["probe_id"]: (r["matched_id"], r["score"], r["method"])
        for r in resolve_entities(probes, cands, ["block"]).collect()
    }
    assert out == {
        1: (10, 1.0, "exact"),
        2: (9, 1.0, "exact"),
        4: (19, 0.8, "fuzzy"),
    }


def test_merge_upsert_rejects_null_keys(spark):
    """NULL merge keys can't match in a join — the engine fails fast like
    the reference's PK constraint instead of silently duplicating."""
    target = spark.createDataFrame([("a", 1)], ["id", "val"])
    source = spark.createDataFrame([(None, 2), ("b", 3)], ["id", "val"])
    # the guard is in-plan (assert_true), so it surfaces at action time as
    # a Spark runtime error carrying the guard message — no extra eager
    # pass over the source
    with pytest.raises(Exception, match="NULL merge key"):
        merge_upsert(target, source, keys=["id"], preserve=()).collect()


def test_connected_components_known_clusters(spark):
    from repcheck_data_integration_spark.operators.dedup import connected_components

    # two chains and a triangle: {1-2-3-4}, {10-11}, {20-21-22 triangle}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["doc1", "doc2"],
    )
    comp = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10,
                    20: 20, 21: 20, 22: 20}


def test_approx_percentile_bounded_error(spark):
    """GK sketch percentiles stay within 2% relative error of the exact
    sort-based percentiles at sf0.001."""
    from repcheck_data_integration_spark.operators.aggregates import (
        agg_approx_percentile,
        agg_percentile,
    )

    sf = "/root/testdata/sf0.001"
    exact = {r["l_returnflag"]: r for r in agg_percentile(spark, sf).collect()}
    approx = {
        r["l_returnflag"]: r for r in agg_approx_percentile(spark, sf).collect()
    }
    assert exact.keys() == approx.keys()
    for k in exact:
        assert abs(approx[k]["approx_median_price"] - exact[k]["median_price"]) \
            <= 0.02 * exact[k]["median_price"]
        assert abs(approx[k]["approx_p90_price"] - exact[k]["p90_price"]) \
            <= 0.02 * exact[k]["p90_price"]


def test_approx_distinct_bounded_error(spark):
    """HLL++ approximate distinct (rows-only op: sketch estimates are
    engine-specific by construction) stays within 10% (5x the requested
    rsd=0.02) of the exact per-group distinct count."""
    from repcheck_data_integration_spark.operators.aggregates import (
        agg_approx_distinct,
    )
    from repcheck_data_integration_spark.tables import load

    sf = "/root/testdata/sf0.001"
    approx = {
        r["l_returnflag"]: r["approx_parts"]
        for r in agg_approx_distinct(spark, sf).collect()
    }
    exact = {
        r["l_returnflag"]: r["n"]
        for r in load(spark, sf, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("n"))
        .collect()
    }
    assert approx.keys() == exact.keys()
    for k, n in exact.items():
        assert abs(approx[k] - n) <= 0.10 * n, (k, approx[k], n)


def test_fuzzy_wratio_kernel_and_plan(spark):
    """join_fuzzy_wratio (rows-only: pandas_udf scorer not SQL-
    expressible): the WRatio-family kernel equals its pure-python recipe
    (max of full-string and sorted-token SequenceMatcher ratios), and in
    the registered query every even-key probe (name unmodified) resolves
    to itself exactly while odd-key probes (last char dropped,
    lowercased) still fuzzy-resolve to their own supplier."""
    from difflib import SequenceMatcher

    from repcheck_data_integration_spark import registry

    def py_wratio(x, y):
        x, y = x.lower().strip(), y.lower().strip()
        full = SequenceMatcher(None, x, y).ratio()
        tok = SequenceMatcher(
            None,
            " ".join(sorted(x.split())),
            " ".join(sorted(y.split())),
        ).ratio()
        return round(max(full, tok), 4)

    from repcheck_data_integration_spark.operators.resolve import (
        wratio_scorer,
    )

    pairs = [
        ("Supplier#000000001", "Supplier#000000001"),
        ("baldwin tammy", "tammy baldwin"),
        ("supplier one", "completely different"),
    ]
    df = spark.createDataFrame(pairs, ["a", "b"]).select(
        wratio_scorer(F.col("a"), F.col("b")).alias("s"), "a", "b"
    )
    for r in df.collect():
        assert r["s"] == py_wratio(r["a"], r["b"]), (r["a"], r["b"])

    sf = "/root/testdata/sf0.001"
    out = {
        r["probe_id"]: r
        for r in registry.QUERIES["join_fuzzy_wratio"](spark, sf).collect()
    }
    assert out, "no resolutions at all"
    for pid, r in out.items():
        if pid % 2 == 0:
            assert r["method"] == "exact" and r["matched_id"] == pid
        else:
            assert r["matched_id"] == pid and r["score"] >= 0.9


def test_pagerank_properties(spark):
    """Integer fixed-point PageRank: determinism across runs, rank mass
    roughly conserved (damping leaks a bounded amount to the 0.15 floor),
    and high-degree suppliers outrank low-degree ones."""
    from repcheck_data_integration_spark.operators.graph import pagerank

    sf = "/root/testdata/sf0.001"
    r5a = {r["node"]: r["rank_scaled"] for r in pagerank(spark, sf, 5).collect()}
    r5b = {r["node"]: r["rank_scaled"] for r in pagerank(spark, sf, 5).collect()}
    assert r5a == r5b  # bit-identical across runs at any partitioning
    # every node keeps at least the random-jump floor
    assert min(r5a.values()) >= 150_000
    # supplier ranks track degree: the max-degree supplier beats the median
    from repcheck_data_integration_spark.operators.graph import _pr_edges

    deg = {
        r["src"]: r["outdeg"]
        for r in _pr_edges(spark, sf)
        .groupBy("src")
        .count()
        .withColumnRenamed("count", "outdeg")
        .collect()
        if r["src"].startswith("s")
    }
    top_supp = max(deg, key=lambda k: (deg[k], k))
    supp_ranks = sorted(v for k, v in r5a.items() if k.startswith("s"))
    assert r5a[top_supp] >= supp_ranks[len(supp_ranks) // 2]


def test_grouped_zscore_pandas_demo_matches_native(spark):
    """The rows-only applyInPandas demo must stay value-identical to the
    registered native two-phase plan (same exact scaled-int moments)."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    sf = "/root/testdata/sf0.001"
    native = {
        (r["c_custkey"], r["c_nationkey"], r["zscore"])
        for r in registry.QUERIES["win_grouped_zscore"](spark, sf).collect()
    }
    demo = {
        (r["c_custkey"], r["c_nationkey"], r["zscore"])
        for r in registry.QUERIES["win_grouped_zscore_pandas_demo"](
            spark, sf
        ).collect()
    }
    assert native == demo and len(native) > 0


def test_iterative_ops_truncate_lineage(spark):
    """Lineage hygiene for iterative algorithms: plan depth must be
    BOUNDED in the iteration count — pagerank truncates via
    localCheckpoint every 5 iterations (not every iteration: an eager
    per-iteration cut splits the pipelined job and measured 4-7× slower
    at the 10× probe), so two iteration counts with the same residue
    past their last checkpoint must produce equal-depth plans."""
    from repcheck_data_integration_spark.operators.dedup import (
        connected_components,
    )
    from repcheck_data_integration_spark.operators.graph import pagerank

    sf = "/root/testdata/sf0.001"

    def analyzed(df) -> str:
        return df._jdf.queryExecution().analyzed().toString()

    p7, p12 = analyzed(pagerank(spark, sf, 7)), analyzed(pagerank(spark, sf, 12))
    # both are 2 lazy iterations past their last checkpoint: equal depth,
    # and the checkpoint shows up as a truncated LogicalRDD scan
    assert p7.count("\n") == p12.count("\n")
    assert "LogicalRDD" in p12
    # join count tracks the RESIDUE (2 iterations × ~6 join refs incl. the
    # edge-build subtree), not the total iteration count
    assert p12.count("Join") == p7.count("Join") <= 12

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["doc1", "doc2"]
    )
    comp = connected_components(pairs)
    assert "Join" not in analyzed(comp)
    got = {r["node"]: r["component"] for r in comp.collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_fuzzy_banded_blocking_preserves_recall(spark):
    """The second blocking key (mid-name band) must not cost recall: every
    probe still resolves, and to ITSELF — a strictly stronger property than
    matching the nation-only-blocked output, which the banded form does not
    (and should not): nation-only scoring admits same-score decoys (probe
    45's mangled name ties 0.9444 with cand 4 AND cand 45; the cand_id
    tie-break then picks the WRONG entity 4), and the band excludes those
    decoys outright. Banding here improves precision while recall stays
    100%."""
    from repcheck_data_integration_spark.operators.resolve import (
        resolve_entities,
    )
    from repcheck_data_integration_spark.tables import load

    sf = "/root/testdata/sf0.01"
    s = load(spark, sf, "supplier")
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
    banded = {
        tuple(r)
        for r in resolve_entities(
            probes, cands, block_keys=["block", "band"]
        ).collect()
    }
    unbanded = {
        tuple(r)
        for r in resolve_entities(probes, cands, block_keys=["block"]).collect()
    }
    n_probes = probes.count()
    assert len(banded) == n_probes  # every probe resolved (full recall)
    # Accuracy: a few probes are INHERENTLY ambiguous (dropping the last
    # digit leaves e.g. probe 19 equidistant from cands 18 and 19 — no
    # scorer can recover those), so assert the band never does worse than
    # nation-only blocking and stays >=90% — in fact it does strictly
    # better, excluding off-band same-score decoys like probe 45 -> cand 4.
    n_right_banded = sum(1 for pid, mid, _, _ in banded if pid == mid)
    n_right_unbanded = sum(1 for pid, mid, _, _ in unbanded if pid == mid)
    assert n_right_banded >= n_right_unbanded
    assert n_right_banded >= 0.9 * n_probes


def _poly_holes(exterior, *holes):
    def close(r):
        return [list(p) for p in r] + [list(r[0])]

    return json.dumps(
        {"type": "Polygon", "coordinates": [close(exterior)] + [close(h) for h in holes]}
    )


def _multipoly(*parts):
    def close(r):
        return [list(p) for p in r] + [list(r[0])]

    return json.dumps(
        {"type": "MultiPolygon",
         "coordinates": [[close(r) for r in part] for part in parts]}
    )


def test_polygons_intersect_holes_and_multiparts():
    """Full ST_Intersects semantics (zip_code_overlap.py:33-38 relies on
    PostGIS generality): donut holes exclude, hole-spanning includes,
    multipolygon parts each count."""
    donut = _poly_holes(
        [(0, 0), (10, 0), (10, 10), (0, 10)],          # exterior
        [(3, 3), (7, 3), (7, 7), (3, 7)],              # hole
    )
    in_hole = _poly([4, 4], [6, 4], [6, 6], [4, 6])    # wholly inside hole
    in_material = _poly([1, 1], [2, 1], [2, 2], [1, 2])
    spans_hole_edge = _poly([6, 6], [8, 6], [8, 8], [6, 8])  # crosses hole ring
    covers_all = _poly([-1, -1], [11, -1], [11, 11], [-1, 11])
    assert not polygons_intersect(donut, in_hole)      # the donut case
    assert not polygons_intersect(in_hole, donut)
    assert polygons_intersect(donut, in_material)
    assert polygons_intersect(donut, spans_hole_edge)
    assert polygons_intersect(donut, covers_all)       # donut inside other
    assert polygons_intersect(covers_all, donut)

    # hole-in-hole island: a polygon INSIDE the donut hole is disjoint,
    # but an island polygon placed in the hole intersects a probe on it
    island = _poly([4.2, 4.2], [5.8, 4.2], [5.8, 5.8], [4.2, 5.8])
    assert polygons_intersect(island, in_hole)

    mp = _multipoly(
        [[(0, 0), (2, 0), (2, 2), (0, 2)]],            # part 1
        [[(20, 20), (22, 20), (22, 22), (20, 22)]],    # part 2
    )
    near_part2 = _poly([21, 21], [25, 21], [25, 25], [21, 25])
    far = _poly([40, 40], [41, 40], [41, 41], [40, 41])
    assert polygons_intersect(mp, near_part2)          # second part hits
    assert polygons_intersect(near_part2, mp)
    assert not polygons_intersect(mp, far)
    # multipolygon with a hole in one part
    mp_holed = _multipoly(
        [[(0, 0), (10, 0), (10, 10), (0, 10)], [(3, 3), (7, 3), (7, 7), (3, 7)]],
    )
    assert not polygons_intersect(mp_holed, in_hole)
    assert polygons_intersect(mp_holed, in_material)


def test_hll_rollup_union_is_lossless_and_bounded(spark):
    """HLL union is register-max: rolling up daily sketches must equal the
    one-shot global sketch EXACTLY, and stay within 5% of exact distinct."""
    from repcheck_data_integration_spark.operators.aggregates import (
        agg_hll_rollup,
    )
    from repcheck_data_integration_spark.tables import load

    sf = "/root/testdata/sf0.001"
    via_daily = {
        r["event_type"]: r["approx_users"]
        for r in agg_hll_rollup(spark, sf).collect()
    }
    e = load(spark, sf, "events")
    direct = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id"))
            .cast("long")
            .alias("n")
        )
        .collect()
    }
    assert via_daily == direct  # union-of-sketches == sketch-of-union
    exact = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k in exact:
        assert abs(via_daily[k] - exact[k]) <= 0.05 * exact[k]


def test_multipass_blocking_recovers_both_edit_classes(spark):
    """Head-window blocking alone misses head-edited probes and the
    tail-window alone misses tail-edited ones; the UNION recovers both:
    every probe resolves, and to itself except inherently ambiguous
    last-digit collisions."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    sf = "/root/testdata/sf0.01"
    out = {
        r["probe_id"]: r["matched_id"]
        for r in registry.QUERIES["join_fuzzy_multipass"](spark, sf).collect()
    }
    n = 100  # suppliers at sf0.01
    assert len(out) == n  # full recall across BOTH mangle classes
    n_right = sum(1 for p, m in out.items() if p == m)
    assert n_right >= 0.9 * n
    # specifically: head-mangled probes (%3==2) did resolve
    head_mangled = [p for p in out if p % 3 == 2]
    assert head_mangled and all(out[p] == p for p in head_mangled if out[p] == p)


def test_triangles_per_node_known_graph(spark):
    """K4 plus a pendant edge: K4 has C(4,3)=4 triangles, every K4 node
    sits in exactly 3; the pendant node sits in none and must be absent."""
    from repcheck_data_integration_spark.operators.graph import triangles_per_node

    k4 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    p = spark.createDataFrame(k4 + [(4, 5)], ["cust1", "cust2"])
    out = {r["node"]: r["n_triangles"] for r in triangles_per_node(p).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}


def test_gopher_filter_attributes_failures(spark, tmp_path):
    """Each gate failure is named in fail_reasons; a fluent doc passes
    with an empty reasons string."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    good = "the quick brown fox jumps over a lazy dog of the north and east wind in town"
    short = "too short"
    symbols = "the # spark # of # a # plan # and # scan # in # join # the # end # now"
    numeric = " ".join(str(n) for n in range(20)) + " the of"
    docs = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, numeric)],
        ["doc_id", "text"],
    ).withColumn("lang", F.lit("en")).withColumn("source", F.lit("t")).withColumn(
        "n_chars", F.length("text")
    )
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["text_gopher_filter"](spark, str(tmp_path)).collect()
    }
    assert out[1]["passes"] and out[1]["fail_reasons"] == ""
    assert not out[2]["passes"] and "word_count" in out[2]["fail_reasons"]
    assert not out[3]["passes"] and "symbol_ratio" in out[3]["fail_reasons"]
    assert not out[4]["passes"] and "alpha_words" in out[4]["fail_reasons"]


def test_split_assignment_deterministic_and_sized(spark):
    """90/5/5 hash split: fractions near nominal at 500 docs, and the
    assignment is a pure function of doc_id — rerunning yields the
    identical relation (the reprocessing-safety property)."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    q = registry.QUERIES["split_train_valid_test"]
    a = {r["doc_id"]: r["split"] for r in q(spark, "/root/testdata/sf0.01").collect()}
    b = {r["doc_id"]: r["split"] for r in q(spark, "/root/testdata/sf0.01").collect()}
    assert a == b and len(a) == 500
    n_train = sum(1 for s in a.values() if s == "train")
    n_valid = sum(1 for s in a.values() if s == "valid")
    n_test = sum(1 for s in a.values() if s == "test")
    assert 400 <= n_train <= 490 and n_valid >= 5 and n_test >= 5


def test_domain_cap_enforced_per_source(spark):
    """Every source capped at DOMAIN_CAP; ranks are 1..cap with no gaps
    (row_number, not rank — ties impossible on (hash, doc_id))."""
    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.operators.sampling import DOMAIN_CAP

    registry.load_all_modules()
    rows = registry.QUERIES["sample_domain_cap"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    per = {}
    for r in rows:
        per.setdefault(r["source"], []).append(r["sample_rank"])
    assert len(per) == 20
    for ranks in per.values():
        assert sorted(ranks) == list(range(1, DOMAIN_CAP + 1))


def test_pack_token_sequences_invariants(spark):
    """Packing bookkeeping is self-consistent per shard: offsets < budget,
    spans ≥ 1, and each doc's start offset equals the running token total
    of its predecessors (recomputed independently in Python)."""
    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.operators.sampling import PACK_BUDGET

    registry.load_all_modules()
    rows = registry.QUERIES["pack_token_sequences"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append(r)
    for rs in by_src.values():
        rs.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in rs:
            assert 0 <= r["offset_in_seq"] < PACK_BUDGET
            assert r["seq_first"] == cum // PACK_BUDGET
            assert r["n_seqs_spanned"] == r["seq_last"] - r["seq_first"] + 1 >= 1
            cum += r["n_tokens"]


def test_mix_weights_normalized_and_flattening(spark):
    """Temperature weights sum to 1 and compress the distribution: every
    below-natural-share domain is oversampled (factor > 1) and every
    above-share domain undersampled — the point of alpha < 1."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    rows = registry.QUERIES["mix_temperature_weights"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-3
    mean_share = sum(r["token_share"] for r in rows) / len(rows)
    for r in rows:
        if r["token_share"] < mean_share * 0.98:
            assert r["oversample_factor"] > 1.0
        if r["token_share"] > mean_share * 1.02:
            assert r["oversample_factor"] < 1.0


def test_corr_matrix_matches_numpy(spark):
    """Exact-moment correlation equals numpy's float corrcoef to 4dp (the
    op's published precision) on the sf0.001 fixture."""
    import numpy as np

    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    out = {
        r["pair"]: r["corr"]
        for r in registry.QUERIES["agg_corr_matrix"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    }
    li = (
        spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        .select("l_quantity", "l_extendedprice", "l_discount")
        .toPandas()
    )
    np_corr = {
        "quantity_extendedprice": np.corrcoef(li.l_quantity, li.l_extendedprice)[0, 1],
        "quantity_discount": np.corrcoef(li.l_quantity, li.l_discount)[0, 1],
        "extendedprice_discount": np.corrcoef(li.l_extendedprice, li.l_discount)[0, 1],
    }
    for k, v in np_corr.items():
        assert abs(out[k] - v) < 2e-4, (k, out[k], v)


def test_stream_topk_types_rank_contract(spark):
    """Per window: at most k rows, ranks are 1..m contiguous, and counts
    are non-increasing in rank order."""
    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.streaming.batch_windows import (
        TOPK_PER_WINDOW,
    )

    registry.load_all_modules()
    rows = registry.QUERIES["stream_topk_types"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    per = {}
    for r in rows:
        per.setdefault(r["window_start"], []).append(r)
    assert per
    for rs in per.values():
        rs.sort(key=lambda r: r["rank_in_window"])
        assert [r["rank_in_window"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= TOPK_PER_WINDOW
        counts = [r["n_events"] for r in rs]
        assert counts == sorted(counts, reverse=True)


def test_quality_logreg_threshold_consistent(spark):
    """keep == (quality_prob >= 0.5) after rounding (no boundary docs in
    the fixture), and the probability is monotone in token count for
    docs with equal other features."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    rows = registry.QUERIES["text_quality_logreg"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    for r in rows:
        assert r["keep"] == (r["quality_prob"] >= 0.5)


def test_boilerplate_removes_exactly_the_footer(spark):
    """In the synthesized corpus the ONLY cross-doc-frequent line is each
    source's copyright footer: every doc loses exactly one line, and the
    reassembled text hash differs from a no-removal baseline."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    rows = registry.QUERIES["text_boilerplate_lines"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["n_kept"] == r["n_lines"] - 1
        assert r["n_lines"] >= 2


def test_bpe_pair_counts_match_python(spark):
    """Top adjacent-pair frequencies recomputed with collections.Counter
    over the same tokenization must agree exactly (count and ordering)."""
    import re
    from collections import Counter

    from repcheck_data_integration_spark import registry
    from repcheck_data_integration_spark.operators.textops import BPE_TOP_PAIRS

    registry.load_all_modules()
    got = [
        (r["pair"], r["n_occurrences"])
        for r in registry.QUERIES["text_bpe_pair_counts"](
            spark, "/root/testdata/sf0.001"
        ).collect()
    ]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").collect()
    wc = Counter()
    for d in docs:
        wc.update(re.findall("[a-z0-9]+", d["text"]))
    pc = Counter()
    for w, f in wc.items():
        for i in range(len(w) - 1):
            pc[w[i : i + 2]] += f
    want = sorted(pc.items(), key=lambda kv: (-kv[1], kv[0]))[:BPE_TOP_PAIRS]
    assert got == want


def test_quantile_histogram_accuracy_and_mergeability(spark):
    """The HDR-bucket estimate must sit within one sub-bucket's relative
    width (~1/16) of the exact percentile, and partial histograms from a
    disjoint split must merge by adding counts into exactly the full
    histogram (the mergeable-sketch property)."""
    from repcheck_data_integration_spark.operators.aggregates import HDR_SUB
    from repcheck_data_integration_spark.registry import QUERIES
    from repcheck_data_integration_spark.tables import load

    sf = "/root/testdata/sf0.001"
    est = {
        r.q_pct: r.est_cents
        for r in QUERIES["agg_quantile_histogram"](spark, sf).collect()
    }
    li = load(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    exact = li.select(
        F.percentile(cents, F.lit(0.5)).alias("p50"),
        F.percentile(cents, F.lit(0.9)).alias("p90"),
        F.percentile(cents, F.lit(0.99)).alias("p99"),
    ).collect()[0]
    for q, ex in ((50, exact.p50), (90, exact.p90), (99, exact.p99)):
        assert abs(est[q] - ex) / ex <= 1.0 / HDR_SUB + 0.01, (q, est[q], ex)

    bucket = (
        (F.length(F.expr("bin(cents)")) - 1) * HDR_SUB
        + F.floor(
            F.col("cents") * HDR_SUB
            / F.expr("shiftleft(cast(1 as bigint), length(bin(cents)) - 1)")
        )
        - HDR_SUB
    ).alias("bucket_id")
    v = li.select(cents.alias("cents"))
    full = {
        r.bucket_id: r.n
        for r in v.groupBy(bucket).agg(F.count(F.lit(1)).alias("n")).collect()
    }
    halves = [
        v.filter(F.col("cents") % 2 == i)
        .groupBy(bucket)
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
        for i in (0, 1)
    ]
    merged: dict = {}
    for half in halves:
        for r in half:
            merged[r.bucket_id] = merged.get(r.bucket_id, 0) + r.n
    assert merged == full


def test_pack_best_fit_invariants(spark):
    """BFD packing: every doc placed exactly once; no non-overflow bin
    exceeds the budget; bin_fill is consistent with the membership; bin
    count is within the BFD guarantee band [ceil(total/budget), n_docs];
    and the result is identical under a different input partitioning
    (shard-deterministic, not partition-luck)."""
    from repcheck_data_integration_spark.operators.sampling import (
        PACK_BUDGET,
    )
    from repcheck_data_integration_spark.registry import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["pack_best_fit"](spark, sf)
    rows = out.collect()
    docs = [r.doc_id for r in rows]
    assert len(docs) == len(set(docs))

    import collections
    import math

    per_bin = collections.defaultdict(int)
    per_shard_tokens = collections.defaultdict(int)
    per_shard_bins = collections.defaultdict(set)
    for r in rows:
        per_bin[(r.source, r.bin_id)] += r.n_tokens
        per_shard_tokens[r.source] += min(r.n_tokens, PACK_BUDGET)
        per_shard_bins[r.source].add(r.bin_id)
        if not r.is_overflow:
            assert r.n_tokens <= PACK_BUDGET
    for r in rows:
        assert per_bin[(r.source, r.bin_id)] == r.bin_fill, r
        if not r.is_overflow:
            assert r.bin_fill <= PACK_BUDGET
    for src, bins in per_shard_bins.items():
        assert len(bins) >= math.ceil(per_shard_tokens[src] / PACK_BUDGET)
        assert len(bins) <= sum(1 for r in rows if r.source == src)

    repart = {
        (r.doc_id, r.bin_id, r.bin_fill)
        for r in QUERIES["pack_best_fit"](spark, sf).collect()
    }
    assert repart == {(r.doc_id, r.bin_id, r.bin_fill) for r in rows}


def test_minhash_mins_bit_equal_and_hash_aggregated(spark):
    """The long-buffered minhash mins (round-10: HashAggregate instead of
    a SortAggregate over the exploded shingle stream) must reproduce the
    old string-min output bit-for-bit — fixed-width lowercase hex orders
    identically to its numeric value — and must plan as a hash aggregate
    (no fact-scaled sort around the exchange)."""
    from repcheck_data_integration_spark.operators.dedup import (
        N_MINHASH,
        minhash_mins,
    )

    docs = spark.createDataFrame(
        [(i, f"w{j}x{(i * 7 + j * 13) % 31}") for i in range(40) for j in range(12)],
        "doc_id long, s string",
    )
    ex = docs.select("doc_id", F.md5("s").alias("h"))
    new = minhash_mins(ex)
    old = ex.groupBy("doc_id").agg(
        *[
            F.min(F.substring("h", 1 + 4 * j, 4)).alias(f"mh{j}")
            for j in range(N_MINHASH)
        ]
    )
    assert sorted(map(tuple, new.collect())) == sorted(map(tuple, old.collect()))
    plan = new._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan
