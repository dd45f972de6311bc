"""The reference's three pipeline lifecycles (SURVEY.md §3), recomposed
set-oriented. Citations refer to /root/reference.

Each pipeline is a pure DataFrame→DataFrame function over reference-shaped
inputs (FIXTURES.md §B schemas); the per-row loops, per-record commits and
O(N) query round-trips of the reference become single distributed plans.
Fail-fast data assertions (§5) are ported as check functions that raise on
violation — evaluated with one aggregate, not per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions.kernels import keep_digits, normalize_division_id, uuid5
from ..operators.resolve import resolve_entities
from ..operators.spatial import bbox_grid_join, st_intersects
from ..operators.upsert import merge_upsert


# --------------------------------------------------------------------------
# §3.1 bills + votes (bills_federal.py:78-214)
# --------------------------------------------------------------------------

def require_single_jurisdiction(juris: DataFrame) -> str:
    """Exactly one jurisdiction document or hard fail
    (bills_federal.py:104-106), normalized to a division id (utils.py:3-6)."""
    rows = juris.select(
        normalize_division_id(F.col("id")).alias("id")
    ).collect()
    if len(rows) != 1:
        raise ValueError(f"expected exactly one jurisdiction, got {len(rows)}")
    return rows[0]["id"]


def derive_bills(bills_raw: DataFrame, jurisdiction_area_id: str) -> DataFrame:
    """Per-bill derivations (bills_federal.py:118-156): argmin/argmax over the
    actions array → first/latest action dates, digit-stripped session,
    deterministic uuid5 surrogate key. One projection, no shuffle."""
    action_dates = F.transform(
        F.col("actions"), lambda a: F.to_timestamp(a["date"])
    )
    session_num = keep_digits(F.col("legislative_session"))
    bill_id = uuid5(
        F.concat_ws(
            "_", F.col("canonical_id"), F.lit(jurisdiction_area_id)
        )
    )
    return bills_raw.select(
        F.concat(F.lit("ocd-bill/"), bill_id).alias("id"),
        F.col("canonical_id"),
        F.col("title"),
        F.lit(jurisdiction_area_id).alias("jurisdiction_area_id"),
        session_num.alias("legislative_session"),
        F.col("actions"),
        F.array_min(action_dates).alias("first_action_date"),
        F.array_max(action_dates).alias("latest_action_date"),
        F.current_timestamp().alias("updated_at"),
    )


def parse_org_ref(col: Column) -> Column:
    """'~{"classification": "upper"}' pseudo-ref → classification string
    (bills_federal.py:139,186,203; vote_matching.py:14-20)."""
    return F.get_json_object(F.substring(col, 2, 1 << 20), "$.classification")


def resolve_votes(
    votes_raw: DataFrame,
    bills: DataFrame,
    people: DataFrame,
    threshold: float = 0.8,
) -> tuple[DataFrame, DataFrame]:
    """Vote pipeline (bills_federal.py:181-214 + vote_matching.py:215-270):

    1. semi-join: keep vote events whose (session, identifier) was ingested
       this run (:186-188) — and the anti side for the warning branch;
    2. explode the votes array (one row per individual vote);
    3. one-pass blocked entity resolution voter_name → person id;
    4. re-nest with resolved voter_ids, preserving vote order, and count
       votes per option (NULL option included) from the same group.

    Returns (resolved_votes, unmatched_vote_events).
    """
    keyed = votes_raw.withColumn(
        "chamber_ref", parse_org_ref(F.col("organization"))
    )
    bill_keys = bills.select(
        F.col("legislative_session").alias("ls"),
        F.col("canonical_id").alias("bid"),
    )
    ingested = (keyed.legislative_session == F.col("ls")) & (
        keyed.identifier == F.col("bid")
    )
    kept = keyed.join(bill_keys, ingested, "left_semi")
    dropped = keyed.join(bill_keys, ingested, "left_anti")

    exploded = kept.select(
        "id", "chamber_ref", "state", F.posexplode("votes").alias("vote_pos", "vote")
    ).withColumn(
        "probe_id", F.concat_ws("#", "id", F.col("vote_pos").cast("string"))
    )
    probes = exploded.select(
        "probe_id",
        F.col("state").alias("block_state"),
        F.col("chamber_ref").alias("block_chamber"),
        F.col("vote.voter_name").alias("pname"),
    )
    cands = people.select(
        F.col("id").alias("cand_id"),
        F.col("state").alias("block_state"),
        F.col("chamber").alias("block_chamber"),
        F.col("name").alias("cname"),
    )
    matched = resolve_entities(
        probes,
        cands,
        block_keys=["block_state", "block_chamber"],
        threshold=threshold,
    ).select("probe_id", "matched_id")

    vote = F.struct(
        F.col("vote.option").alias("option"),
        F.col("vote.voter_name").alias("voter_name"),
        F.col("matched_id").alias("voter_id"),
    )
    pv = (
        exploded.join(matched, "probe_id", "left")
        .groupBy("id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vote_pos", vote.alias("vote")))
            ).alias("pv")
        )
    )
    option = lambda s: s["vote"]["option"]  # noqa: E731
    counts = F.transform(
        F.array_distinct(F.transform("pv", option)),
        lambda o: F.struct(
            o.alias("option"),
            F.size(F.filter("pv", lambda s: option(s).eqNullSafe(o)))
            .cast("long")
            .alias("value"),
        ),
    )
    resolved = pv.select(
        "id",
        F.transform("pv", lambda s: s["vote"]).alias("votes"),
        F.array_sort(counts).alias("counts"),
    )
    return resolved, dropped


# --------------------------------------------------------------------------
# current-role selection (people_utils.py:9-84) — win_current_role, exact
# --------------------------------------------------------------------------

def current_roles(people_raw: DataFrame, as_of: str) -> DataFrame:
    """Pick each person's *current* role from the roles array:

    - roles of type 'mayor' are skipped (people_utils.py:31-33);
    - a role whose [start_date, end_date] contains as_of wins immediately
      (:53-54);
    - else a role with a future end_date (:59-66), else a started role with
      no end (:67-77), else any undated role — in that priority order,
      most-recent start first.
    """
    r = people_raw.select(
        "id", F.explode("roles").alias("role")
    ).filter(F.lower(F.col("role.type")) != "mayor")
    start = F.to_timestamp(F.col("role.start_date"))
    end = F.to_timestamp(F.col("role.end_date"))
    asof = F.lit(as_of).cast("timestamp")
    score = (
        F.when(start.isNotNull() & end.isNotNull() & asof.between(start, end), 3)
        .when(end.isNotNull() & (end >= asof), 2)
        .when(start.isNotNull() & end.isNull() & (start <= asof), 1)
        .otherwise(0)
    )
    w = W.partitionBy("id").orderBy(
        F.col("role_score").desc(),
        F.col("role_start").desc_nulls_last(),
        F.col("role.district"),
    )
    return (
        r.withColumn("role_score", score)
        .withColumn("role_start", start)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "id",
            F.col("role.type").alias("role_type"),
            F.col("role.district").alias("district"),
            F.col("role.jurisdiction").alias("jurisdiction"),
            "role_score",
        )
    )


# --------------------------------------------------------------------------
# §3.2 census areas (federal_house_districts.py:116-140)
# --------------------------------------------------------------------------

def build_areas(records: DataFrame, fips: DataFrame, kind: str) -> DataFrame:
    """Shapefile records → Area rows: broadcast FIPS lookup (:64,70-74),
    sentinel-district filter (:76-78), OCD id mint (:87-91), geometry kept
    as GeoJSON text + bbox struct (SURVEY §1.2)."""
    joined = records.join(F.broadcast(fips), "state_fips_code")
    kept = joined.filter(
        ~F.col("district_code").isin("ZZ", "ZZZ")
    )
    district_num = F.regexp_replace(F.col("district_code"), "^0+", "")
    ocd_id = F.concat(
        F.lit("ocd-division/country:us/state:"),
        F.lower(F.col("abbreviation")),
        F.lit(f"/{kind}:"),
        F.when(district_num == "", F.lit("at-large")).otherwise(district_num),
    )
    return kept.select(
        ocd_id.alias("id"),
        F.lit(kind).alias("classification"),
        F.concat_ws(" ", F.col("name"), F.col("district_code")).alias("name"),
        F.col("state_fips_code").alias("fips_code"),
        district_num.alias("district_number"),
        F.col("land_area"),
        F.col("water_area"),
        F.col("geometry"),
        F.col("bbox"),
    )


def check_no_duplicate_ids(df: DataFrame, key: str = "id") -> None:
    """Duplicate-ID invariant (state_house_districts.py:132-135), evaluated
    as one aggregate instead of a driver-side Counter."""
    dups = (
        df.groupBy(key).count().filter(F.col("count") > 1).limit(5).collect()
    )
    if dups:
        raise ValueError(f"duplicate ids: {[r[key] for r in dups]}")


# --------------------------------------------------------------------------
# §3.3 zip-code overlap edges (zip_code_overlap.py:10-63)
# --------------------------------------------------------------------------

def person_zip_edges(
    people: DataFrame, areas: DataFrame, cell: float = 1.0
) -> DataFrame:
    """people ⋈ areas(fk) ⋈ zip-areas(bbox grid join + exact refine) →
    person_area edges. One distributed plan vs the reference's O(people)
    sequential PostGIS queries — the single biggest win over the reference.

    Missing constituent area hard-fails (zip_code_overlap.py:30-31), checked
    with one anti-join count."""
    districts = areas.filter(F.col("classification") != "zipcode").select(
        F.col("id").alias("district_area_id"),
        F.col("geometry").alias("d_geom"),
        F.col("bbox.xmin").alias("d_xmin"),
        F.col("bbox.ymin").alias("d_ymin"),
        F.col("bbox.xmax").alias("d_xmax"),
        F.col("bbox.ymax").alias("d_ymax"),
    )
    zips = areas.filter(F.col("classification") == "zipcode").select(
        F.col("id").alias("zip_area_id"),
        F.col("geometry").alias("z_geom"),
        F.col("bbox.xmin").alias("z_xmin"),
        F.col("bbox.ymin").alias("z_ymin"),
        F.col("bbox.xmax").alias("z_xmax"),
        F.col("bbox.ymax").alias("z_ymax"),
    )
    missing = people.join(
        districts,
        people.constituent_area_id == districts.district_area_id,
        "left_anti",
    ).count()
    if missing:
        raise ValueError(f"{missing} people with missing constituent area")

    pd_ = people.join(
        districts, people.constituent_area_id == districts.district_area_id
    )
    pairs = bbox_grid_join(
        pd_,
        zips,
        cell=cell,
        left_bbox=("d_xmin", "d_ymin", "d_xmax", "d_ymax"),
        right_bbox=("z_xmin", "z_ymin", "z_xmax", "z_ymax"),
    )
    return pairs.filter(st_intersects(F.col("d_geom"), F.col("z_geom"))).select(
        F.col("id").alias("person_id"),
        F.col("zip_area_id").alias("area_id"),
        F.lit("constituent_area_zip_code").alias("relationship_type"),
    )


def upsert_edges(existing: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Edge-table keyed upsert (person_id, area_id, relationship_type is the
    natural key — zip_code_overlap.py:42-49)."""
    return merge_upsert(
        existing,
        new_edges,
        keys=["person_id", "area_id", "relationship_type"],
        preserve=(),
    )


# --------------------------------------------------------------------------
# §2.8/§3 PDF ingest lifecycle (summarize_bills_federal.py:127-190)
# --------------------------------------------------------------------------

def pdf_ingest_curation(docs: DataFrame) -> DataFrame:
    """The reference's bill-summarize lifecycle shape end-to-end in ONE
    DAG: PDF payload → text extraction → token-count quality gates →
    exact dedup (summarize_bills_federal.py:127-190 downloads a PDF per
    bill, pdfminer-extracts it, then length-gates before the LLM call).
    Here each document synthesizes a REAL one-page PDF
    (sources/pdftext.pdf_from_text — Flate stream, Tj operators), the
    pure-python extractor recovers the text inside the same Arrow pass,
    and the curation gates (token bounds, language keep-list,
    keep-lowest-id exact dedup on the recovered text) run downstream of
    the extraction without re-scanning the corpus. ``extract_ok`` is an
    in-plan roundtrip assertion: the cleaned recovered text must equal
    the cleaned latin-1 projection of the source."""
    import pandas as pd

    from ..operators.dedup import tokens as token_array
    from ..operators.llm import clean_text
    from ..sources.pdftext import extract_pdf_text, pdf_from_text

    def extract(batches):
        for b in batches:
            texts, oks = [], []
            for t in b["text"]:
                payload = pdf_from_text(t, wrap=10**9)
                got = clean_text(extract_pdf_text(payload))
                want = clean_text(
                    t.encode("latin-1", "ignore").decode("latin-1")
                )
                texts.append(got)
                oks.append(got == want)
            yield pd.DataFrame(
                {
                    "doc_id": b["doc_id"],
                    "lang": b["lang"],
                    "rec_text": texts,
                    "extract_ok": oks,
                }
            )

    rec = docs.select("doc_id", "lang", "text").mapInPandas(
        extract,
        "doc_id long, lang string, rec_text string, extract_ok boolean",
    )
    n = F.size(token_array(F.col("rec_text")))
    scored = rec.select(
        "doc_id",
        "lang",
        "extract_ok",
        n.alias("n_tokens"),
        F.md5("rec_text").alias("content_hash"),
    )
    kept = scored.filter(
        F.col("extract_ok")
        & F.col("n_tokens").between(20, 1000)
        & F.col("lang").isin("en", "de", "fr", "es")
    )
    canon = kept.withColumn(
        "canon",
        F.min("doc_id").over(W.partitionBy("content_hash")),
    )
    return canon.filter(F.col("doc_id") == F.col("canon")).select(
        "doc_id", "lang", "n_tokens", "content_hash", "extract_ok"
    )


# --------------------------------------------------------------------------
# §3.4 precinct election results (nytimes_precincts.py:21-92)
# --------------------------------------------------------------------------

# properties block of one NYT precinct GeoJSON-lines record
# (nytimes_precincts.py:64, 73-80)
PRECINCT_PROPS_DDL = (
    "GEOID string, state string, votes_dem bigint, votes_rep bigint,"
    " votes_total bigint, pct_dem_lead double, official_boundary boolean"
)


def parse_precinct_lines(geojson_lines: DataFrame) -> DataFrame:
    """GeoJSON-lines → typed precinct rows (nytimes_precincts.py:58-88).
    The reference json.loads's each line, shapely-centroids the geometry
    and upserts ONE ROW AT A TIME through the ORM; here the whole file is
    one distributed plan: from_json for the properties block, the raw
    geometry kept as its JSON substring, an Arrow-batched shoelace
    centroid (operators/spatial.py st_centroid — same area-weighted
    definition as shapely's .centroid), and uuid5(NAMESPACE_OID, GEOID)
    minted natively (functions/kernels.py uuid5, RFC-exact)."""
    from ..operators.spatial import st_centroid

    props = F.from_json(
        F.get_json_object(F.col("value"), "$.properties"), PRECINCT_PROPS_DDL
    )
    geom = F.get_json_object(F.col("value"), "$.geometry")
    parsed = geojson_lines.select(props.alias("p"), geom.alias("geometry"))
    return parsed.select(
        uuid5(F.col("p.GEOID")).alias("precinct_id"),
        F.col("p.state").alias("state"),
        F.col("p.votes_dem").alias("votes_dem"),
        F.col("p.votes_rep").alias("votes_rep"),
        F.col("p.votes_total").alias("votes_total"),
        F.col("p.pct_dem_lead").alias("pct_dem_lead"),
        F.col("p.official_boundary").alias("official_boundary"),
        F.col("geometry"),
        st_centroid(F.col("geometry")).alias("c"),
    ).select(
        "precinct_id",
        "state",
        "votes_dem",
        "votes_rep",
        "votes_total",
        "pct_dem_lead",
        "official_boundary",
        "geometry",
        F.col("c.lat").alias("centroid_lat"),
        F.col("c.lon").alias("centroid_lon"),
    )


def ingest_precincts(
    existing: DataFrame, geojson_lines: DataFrame
) -> DataFrame:
    """The full §3.4 lifecycle: parse → centroid → uuid5 key → keyed
    upsert (nytimes_precincts.py:83-88 upsert_dynamic per row becomes one
    set-oriented MERGE on precinct_id)."""
    return merge_upsert(
        existing, parse_precinct_lines(geojson_lines),
        keys=["precinct_id"], preserve=(),
    )
