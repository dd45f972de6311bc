"""End-to-end tests for the §3 pipeline recompositions on reference-shaped
fixtures (FIXTURES.md §B), including the vote_matching.py:273-319-style
golden resolution sample and the people_utils.py role-selection semantics."""

from __future__ import annotations

import json
import uuid

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from conftest import SF_SMOKE
from repcheck_data_integration_spark.plans import pipelines as P

ROLES_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("start_date", T.StringType()),
            T.StructField("end_date", T.StringType()),
            T.StructField("type", T.StringType()),
            T.StructField("jurisdiction", T.StringType()),
            T.StructField("district", T.StringType()),
        ]
    )
)


def _jurisdiction(spark):
    return spark.createDataFrame(
        [("ocd-jurisdiction/country:us/government",)], ["id"]
    )


def _bills_raw(spark):
    return spark.createDataFrame(
        [
            (
                "hr1-118",
                "HR 1",
                "118th",
                [
                    {"date": "2023-01-09", "description": "introduced"},
                    {"date": "2023-03-02", "description": "passed house"},
                ],
            ),
            ("hr2-118", "HR 2", "118th", [{"date": "2023-02-01", "description": "x"}]),
        ],
        "canonical_id string, title string, legislative_session string,"
        " actions array<struct<date string, description string>>",
    )


def _votes_inputs(spark):
    votes_raw = spark.createDataFrame(
        [
            (
                "vote-1",
                "hr1-118",
                "118",
                "WI",
                "~" + json.dumps({"classification": "upper"}),
                [
                    {"option": "yes", "voter_name": "Tammy Baldwin"},
                    {"option": "no", "voter_name": "ron jonson"},  # typo → fuzzy
                    {"option": "yes", "voter_name": "zz unknowable"},
                ],
            ),
            (
                "vote-orphan",
                "hr99-118",
                "118",
                "WI",
                "~" + json.dumps({"classification": "upper"}),
                [{"option": "yes", "voter_name": "Tammy Baldwin"}],
            ),
        ],
        "id string, identifier string, legislative_session string, state string,"
        " organization string,"
        " votes array<struct<option string, voter_name string>>",
    )
    people = spark.createDataFrame(
        [
            ("p-baldwin", "WI", "upper", "Tammy Baldwin"),
            ("p-johnson", "WI", "upper", "Ron Johnson"),
            ("p-other", "WI", "lower", "Ron Johnson"),
        ],
        ["id", "state", "chamber", "name"],
    )
    return votes_raw, people


def test_bills_pipeline_end_to_end(spark):
    jid = P.require_single_jurisdiction(_jurisdiction(spark))
    assert jid == "ocd-division/country:us"

    bills_raw = _bills_raw(spark)
    bills = P.derive_bills(bills_raw, jid)
    got = {r["canonical_id"]: r for r in bills.collect()}
    assert got["hr1-118"]["legislative_session"] == "118"
    assert got["hr1-118"]["first_action_date"].day == 9
    assert got["hr1-118"]["latest_action_date"].month == 3
    assert got["hr1-118"]["id"].startswith("ocd-bill/")
    # deterministic surrogate keys: same input → same id
    again = {r["canonical_id"]: r["id"] for r in P.derive_bills(bills_raw, jid).collect()}
    assert again == {k: v["id"] for k, v in got.items()}

    # golden resolution sample (vote_matching.py:281-311 shape)
    votes_raw, people = _votes_inputs(spark)
    bills_for_join = bills.withColumn("canonical_id", F.col("canonical_id"))
    resolved, dropped = P.resolve_votes(votes_raw, bills_for_join, people)
    res = {r["id"]: r for r in resolved.collect()}
    assert set(res) == {"vote-1"}
    votes = res["vote-1"]["votes"]
    assert votes[0]["voter_id"] == "p-baldwin"  # exact
    assert votes[1]["voter_id"] == "p-johnson"  # fuzzy within (WI, upper) block
    assert votes[2]["voter_id"] is None  # sub-threshold stays unmatched
    counts = {c["option"]: c["value"] for c in res["vote-1"]["counts"]}
    assert counts == {"yes": 2, "no": 1}
    # the warning branch (bills_federal.py:213-214)
    assert [r["id"] for r in dropped.collect()] == ["vote-orphan"]


def _people_raw(spark):
    return spark.createDataFrame(
        [
            (  # active interval wins over future-end
                "p1",
                [
                    {"start_date": "2010-01-01", "end_date": "2012-01-01",
                     "type": "upper", "jurisdiction": "j", "district": "1"},
                    {"start_date": "2023-01-01", "end_date": "2025-01-01",
                     "type": "upper", "jurisdiction": "j", "district": "2"},
                    {"start_date": "2030-01-01", "end_date": "2031-01-01",
                     "type": "upper", "jurisdiction": "j", "district": "3"},
                ],
            ),
            (  # no containing interval → future end beats expired
                "p2",
                [
                    {"start_date": "2010-01-01", "end_date": "2012-01-01",
                     "type": "lower", "jurisdiction": "j", "district": "old"},
                    {"start_date": None, "end_date": "2030-01-01",
                     "type": "lower", "jurisdiction": "j", "district": "future"},
                ],
            ),
            (  # started, open-ended beats undated; mayor rows skipped
                "p3",
                [
                    {"start_date": None, "end_date": None,
                     "type": "governor", "jurisdiction": "j", "district": "undated"},
                    {"start_date": "2020-01-01", "end_date": None,
                     "type": "governor", "jurisdiction": "j", "district": "open"},
                    {"start_date": "2024-01-01", "end_date": "2026-01-01",
                     "type": "mayor", "jurisdiction": "j", "district": "mayor"},
                ],
            ),
        ],
        T.StructType(
            [
                T.StructField("id", T.StringType()),
                T.StructField("roles", ROLES_SCHEMA),
            ]
        ),
    )


def test_current_roles_priority(spark):
    people_raw = _people_raw(spark)
    out = {
        r["id"]: r["district"]
        for r in P.current_roles(people_raw, as_of="2024-06-01").collect()
    }
    assert out == {"p1": "2", "p2": "future", "p3": "open"}


def _district_records(spark):
    records = spark.createDataFrame(
        [
            ("55", "01", "geo1", 100, 5, '{"type":"Polygon"}'),
            ("55", "ZZ", "geoZ", 0, 0, "{}"),  # sentinel → dropped
            ("99", "02", "geo2", 50, 1, "{}"),  # FIPS not in lookup → dropped
        ],
        "state_fips_code string, district_code string, geo_id string,"
        " land_area long, water_area long, geometry string",
    ).withColumn(
        "bbox",
        F.struct(
            F.lit(0.0).alias("xmin"), F.lit(0.0).alias("ymin"),
            F.lit(1.0).alias("xmax"), F.lit(1.0).alias("ymax"),
        ),
    )
    fips = spark.createDataFrame(
        [("55", "WI", "Wisconsin")], ["state_fips_code", "abbreviation", "name"]
    )
    return records, fips


def test_build_areas_and_dup_check(spark):
    records, fips = _district_records(spark)
    areas = P.build_areas(records, fips, "cd")
    rows = areas.collect()
    assert len(rows) == 1
    assert rows[0]["id"] == "ocd-division/country:us/state:wi/cd:1"
    P.check_no_duplicate_ids(areas)
    with pytest.raises(ValueError, match="duplicate"):
        P.check_no_duplicate_ids(areas.union(areas))


def _sq(x0, y0, w):
    ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + w], [x0, y0 + w], [x0, y0]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


def _zip_areas(spark):
    def area(aid, cls, x0, y0, w):
        return (
            aid, cls, _sq(x0, y0, w),
            {"xmin": float(x0), "ymin": float(y0),
             "xmax": float(x0 + w), "ymax": float(y0 + w)},
        )

    return spark.createDataFrame(
        [
            area("d1", "cd", 0, 0, 10),
            area("z-in", "zipcode", 2, 2, 2),
            area("z-edge", "zipcode", 9, 9, 3),
            area("z-out", "zipcode", 50, 50, 2),
        ],
        "id string, classification string, geometry string,"
        " bbox struct<xmin double, ymin double, xmax double, ymax double>",
    )


def test_person_zip_edges(spark):
    areas = _zip_areas(spark)
    people = spark.createDataFrame(
        [("person-1", "d1")], ["id", "constituent_area_id"]
    )
    edges = P.person_zip_edges(people, areas, cell=4.0)
    got = {(r["person_id"], r["area_id"]) for r in edges.collect()}
    assert got == {("person-1", "z-in"), ("person-1", "z-edge")}

    bad_people = spark.createDataFrame(
        [("person-2", "nope")], ["id", "constituent_area_id"]
    )
    with pytest.raises(ValueError, match="missing constituent"):
        P.person_zip_edges(bad_people, areas, cell=4.0)


def _precinct_line(geoid, state, dem, rep, geometry):
    total = dem + rep
    return json.dumps(
        {
            "type": "Feature",
            "properties": {
                "GEOID": geoid,
                "state": state,
                "votes_dem": dem,
                "votes_rep": rep,
                "votes_total": total,
                "pct_dem_lead": round((dem - rep) / max(total, 1), 4),
                "official_boundary": True,
            },
            "geometry": geometry,
        }
    )


SQUARE = {
    "type": "Polygon",
    "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]],
}
# part 1: 4x4 square with a 2x2 hole (area 12, centroid (2,2));
# part 2: 2x2 square at (10,0) (area 4, centroid (11,1))
# → weighted centroid ((12*2+4*11)/16, (12*2+4*1)/16) = (4.25, 1.75)
MULTI = {
    "type": "MultiPolygon",
    "coordinates": [
        [
            [[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]],
            [[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]],
        ],
        [[[10, 0], [12, 0], [12, 2], [10, 2], [10, 0]]],
    ],
}


def _precinct_lines(spark):
    return spark.createDataFrame(
        [
            (_precinct_line("55001-0001", "WI", 120, 80, SQUARE),),
            (_precinct_line("55001-0002", "WI", 10, 30, MULTI),),
        ],
        ["value"],
    )


def _stale_precincts(spark):
    """Precinct 55001-0001 already stored, with stale votes."""
    k1 = str(uuid.uuid5(uuid.NAMESPACE_OID, "55001-0001"))
    return spark.createDataFrame(
        [
            (k1, "WI", 1, 1, 2, 0.0, True,
             json.dumps(SQUARE), 5.0, 5.0),
        ],
        "precinct_id string, state string, votes_dem bigint,"
        " votes_rep bigint, votes_total bigint, pct_dem_lead double,"
        " official_boundary boolean, geometry string,"
        " centroid_lat double, centroid_lon double",
    )


def test_ingest_precincts_end_to_end(spark):
    """§3.4 lifecycle (nytimes_precincts.py:21-92): GeoJSON lines →
    properties + shoelace centroid + uuid5 key → keyed MERGE upsert."""
    lines = _precinct_lines(spark)
    new = P.parse_precinct_lines(lines).orderBy("state", "votes_total")
    rows = {r["precinct_id"]: r for r in new.collect()}
    k1 = str(uuid.uuid5(uuid.NAMESPACE_OID, "55001-0001"))
    k2 = str(uuid.uuid5(uuid.NAMESPACE_OID, "55001-0002"))
    assert set(rows) == {k1, k2}
    assert rows[k1]["centroid_lon"] == pytest.approx(5.0)
    assert rows[k1]["centroid_lat"] == pytest.approx(5.0)
    assert rows[k2]["centroid_lon"] == pytest.approx(4.25)
    assert rows[k2]["centroid_lat"] == pytest.approx(1.75)
    assert rows[k1]["votes_total"] == 200
    assert rows[k1]["official_boundary"] is True
    assert json.loads(rows[k2]["geometry"]) == MULTI

    # upsert: k1 already exists with stale votes → updated; k2 inserted
    existing = _stale_precincts(spark)
    merged = P.ingest_precincts(existing, lines)
    got = {r["precinct_id"]: r for r in merged.collect()}
    assert len(got) == 2
    assert got[k1]["votes_total"] == 200  # updated, not duplicated
    assert got[k2]["votes_total"] == 40   # inserted


def test_pdf_ingest_curation_lifecycle(spark):
    """§2.8 PDF leg (summarize_bills_federal.py:127-190) composed
    end-to-end: synthesize a real PDF per doc, extract with the
    pure-python parser, then token-gate + exact-dedup the RECOVERED
    text in the same DAG. The roundtrip flag must hold for every doc,
    and the gate decisions must agree with the raw-text curation pass
    (pipeline_corpus_curation) on the same fixture."""
    from repcheck_data_integration_spark.operators.llm import (
        pipeline_corpus_curation,
    )
    from repcheck_data_integration_spark.tables import load

    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents")
    out = P.pdf_ingest_curation(docs).collect()
    assert out, "pipeline produced no rows"
    assert all(r["extract_ok"] for r in out)
    got_ids = {r["doc_id"] for r in out}
    want_ids = {
        r["doc_id"] for r in pipeline_corpus_curation(spark, sf).collect()
    }
    assert got_ids == want_ids


def test_resolve_votes_null_and_repeated_options(spark):
    """counts has one entry per distinct option of a vote event, a NULL
    option included, and the output schema (names, types, nullability)
    stays fixed."""
    votes_raw = spark.createDataFrame(
        [
            (
                "vote-1",
                "hr1-118",
                "118",
                "WI",
                "~" + json.dumps({"classification": "upper"}),
                [
                    {"option": "yes", "voter_name": "Tammy Baldwin"},
                    {"option": None, "voter_name": "Ron Johnson"},
                    {"option": "yes", "voter_name": "ron jonson"},
                    {"option": None, "voter_name": None},
                    {"option": "no", "voter_name": "TAMMY BALDWIN"},
                ],
            ),
        ],
        "id string, identifier string, legislative_session string, state string,"
        " organization string,"
        " votes array<struct<option string, voter_name string>>",
    )
    _, people = _votes_inputs(spark)
    bills = spark.createDataFrame(
        [("118", "hr1-118")], ["legislative_session", "canonical_id"]
    )
    resolved, dropped = P.resolve_votes(votes_raw, bills, people)
    vote = T.StructType(
        [
            T.StructField("option", T.StringType()),
            T.StructField("voter_name", T.StringType()),
            T.StructField("voter_id", T.StringType()),
        ]
    )
    count = T.StructType(
        [
            T.StructField("option", T.StringType()),
            T.StructField("value", T.LongType(), False),
        ]
    )
    assert resolved.schema == T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("votes", T.ArrayType(vote, False), False),
            T.StructField("counts", T.ArrayType(count, False), False),
        ]
    )
    [row] = resolved.collect()
    assert [tuple(c) for c in row["counts"]] == [
        (None, 2), ("no", 1), ("yes", 2)
    ]
    assert [v["voter_id"] for v in row["votes"]] == [
        "p-baldwin", "p-johnson", "p-johnson", None, "p-baldwin"
    ]
    assert [v["option"] for v in row["votes"]] == ["yes", None, "yes", None, "no"]
    assert dropped.count() == 0


def _stage_frames(spark):
    """One round of this file's pipeline stage functions on its inputs."""
    from repcheck_data_integration_spark.tables import load

    jid = P.require_single_jurisdiction(_jurisdiction(spark))
    bills = P.derive_bills(_bills_raw(spark), jid)
    votes_raw, people = _votes_inputs(spark)
    records, fips = _district_records(spark)
    areas = P.build_areas(records, fips, "cd")
    P.check_no_duplicate_ids(areas)
    edges = P.person_zip_edges(
        spark.createDataFrame([("person-1", "d1")], ["id", "constituent_area_id"]),
        _zip_areas(spark),
        cell=4.0,
    )
    return [
        # updated_at is the run's clock reading, inlined into generated
        # code as a literal, so a frame that outputs it compiles anew on
        # every run whatever the cache size
        bills.drop("updated_at"),
        *P.resolve_votes(votes_raw, bills, people),
        P.current_roles(_people_raw(spark), as_of="2024-06-01"),
        areas,
        P.upsert_edges(edges.limit(0), edges),
        P.ingest_precincts(_stale_precincts(spark), _precinct_lines(spark)),
        P.pdf_ingest_curation(load(spark, SF_SMOKE, "documents")),
    ]


def test_pipeline_rerun_hits_codegen_cache(spark):
    """Running the stages a second time in the same session compiles no
    new generated class: the codegen cache holds one round's working set
    (session.py sizes it). With Spark's default 100 entries the second
    round recompiles what the first round evicted. AQE is off for the
    test: it re-plans from runtime statistics and stage completion
    order, so the same frames can yield different generated code from
    run to run."""
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME()
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for _ in range(2):
            before = compiles.getCount()
            for df in _stage_frames(spark):
                df.write.format("noop").mode("overwrite").save()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert compiles.getCount() - before == 0
