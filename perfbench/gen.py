"""Seeded inputs for the ``civic_ingest`` workload.

``civic_inputs`` writes reference-shaped inputs for the
``plans.pipelines`` lifecycle (bills, vote events, people, census
records, ZIP polygons, precinct GeoJSON lines, PDF source documents) as
parquet under a run directory, and returns the truth the generator knows
about them, so any seed can be checked.

Only numpy and pyarrow are used; nothing here touches Spark.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _write(path: str, table: pa.Table) -> None:
    pq.write_table(table, path)


def _texts(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi, n)
    words = np.array(VOCAB)
    return [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]


# --------------------------------------------------------------------------
# civic lifecycle inputs
# --------------------------------------------------------------------------

STATES = [("55", "WI", "Wisconsin"), ("17", "IL", "Illinois"),
          ("27", "MN", "Minnesota"), ("26", "MI", "Michigan")]
FIRST = ["Tammy", "Ron", "Ann", "Bo", "Cruz", "Dana", "Eli", "Fay", "Gus",
         "Hal", "Ida", "Jon", "Kim", "Lou", "Max", "Ned", "Ora", "Pam"]
LAST = ["Baldwin", "Johnson", "Smith", "Nguyen", "Garcia", "Olsen", "Meyer",
        "Kowalski", "Novak", "Schultz", "Larsen", "Fischer", "Brandt"]
CHAMBERS = ["upper", "lower"]


def _rect_geojson(x0: float, y0: float, w: float, h: float) -> str:
    ring = [[x0, y0], [x0 + w, y0], [x0 + w, y0 + h], [x0, y0 + h], [x0, y0]]
    return json.dumps({"type": "Polygon", "coordinates": [ring]})


def civic_inputs(out_dir: str, scale: dict[str, int], seed: int) -> dict:
    """Write the lifecycle's raw inputs under ``out_dir`` and return the
    generator-side truth used by the output checks.

    ``scale`` keys: people, districts, zips, bills, vote_events,
    votes_per_event, precincts, pdf_docs."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    truth: dict = {}

    # --- census districts: a grid of non-overlapping rectangles per state
    n_d = scale["districts"]
    per_state = -(-n_d // len(STATES))
    d_rows, d_rect = [], {}
    for i in range(n_d):
        fips, abbr, _ = STATES[i % len(STATES)]
        k = i // len(STATES)
        x0, y0 = float(10 * (i % len(STATES))), float(2 * k)
        w, h = 10.0, 2.0
        code = f"{k + 1:02d}"
        d_rows.append((fips, code, f"geo{fips}{code}", int(rng.integers(1, 10**6)),
                       int(rng.integers(0, 10**4)), _rect_geojson(x0, y0, w, h),
                       (x0, y0, x0 + w, y0 + h)))
        did = f"ocd-division/country:us/state:{abbr.lower()}/cd:{k + 1}"
        d_rect[did] = (x0, y0, x0 + w, y0 + h)
    # one sentinel per state that build_areas must drop
    for fips, _, _ in STATES:
        d_rows.append((fips, "ZZ", f"geo{fips}ZZ", 0, 0, "{}", (0.0, 0.0, 0.0, 0.0)))
    _write_records(f"{out_dir}/district_records.parquet", d_rows)
    truth["districts"] = len(d_rect)

    # --- ZIP polygons: random diamonds (a rhombus inscribed in its bbox)
    # over the district extent, so a bbox candidate need not intersect;
    # offsets avoid exact edge contact so overlap is unambiguous
    n_z = scale["zips"]
    xmax_all = 10.0 * len(STATES)
    ymax_all = 2.0 * per_state
    zw = rng.uniform(0.3, 1.7, n_z).round(3) + 0.000291
    zh = rng.uniform(0.2, 0.9, n_z).round(3) + 0.000359
    zx = rng.uniform(-0.5, xmax_all, n_z).round(3) + 0.000137
    zy = rng.uniform(-0.2, ymax_all, n_z).round(3) + 0.000213
    z_rows, z_rect = [], {}
    for i in range(n_z):
        fips, abbr, _ = STATES[i % len(STATES)]
        code = f"{10000 + i:05d}"
        r = (float(zx[i]), float(zy[i]), float(zx[i] + zw[i]), float(zy[i] + zh[i]))
        z_rows.append((fips, code, f"zip{code}", 1, 0, _diamond_geojson(r), r))
        z_rect[f"ocd-division/country:us/state:{abbr.lower()}/zipcode:{10000 + i}"] = r
    _write_records(f"{out_dir}/zip_records.parquet", z_rows)

    _write(f"{out_dir}/fips.parquet", pa.table({
        "state_fips_code": [s[0] for s in STATES],
        "abbreviation": [s[1] for s in STATES],
        "name": [s[2] for s in STATES],
    }))

    # --- people: unique names; state/chamber blocks; a constituent district
    n_p = scale["people"]
    by_state: dict[str, list[str]] = {}
    for did in sorted(d_rect):
        by_state.setdefault(did.split("state:")[1][:2].upper(), []).append(did)
    names, seen = [], set()
    while len(names) < n_p:
        nm = f"{FIRST[rng.integers(len(FIRST))]} {LAST[rng.integers(len(LAST))]}"
        nm += f" {_tag(len(names))}"
        if nm not in seen:
            seen.add(nm)
            names.append(nm)
    p_state = [STATES[i % len(STATES)][1] for i in range(n_p)]
    p_chamber = [CHAMBERS[i // len(STATES) % 2] for i in range(n_p)]
    p_area = [
        by_state[s][int(rng.integers(0, len(by_state[s])))] for s in p_state
    ]
    roles, want_role = [], {}
    for i in range(n_p):
        active = {"start_date": "2023-01-03", "end_date": "2025-01-03",
                  "type": p_chamber[i], "jurisdiction": "us", "district": f"d{i}"}
        old = {"start_date": "2015-01-03", "end_date": "2017-01-03",
               "type": p_chamber[i], "jurisdiction": "us", "district": f"old{i}"}
        mayor = {"start_date": "2024-01-01", "end_date": "2026-01-01",
                 "type": "mayor", "jurisdiction": "city", "district": f"m{i}"}
        rs = [old, active] + ([mayor] if i % 3 == 0 else [])
        rng.shuffle(rs)
        roles.append(rs)
        want_role[f"person-{i}"] = f"d{i}"
    role_t = pa.struct([("start_date", pa.string()), ("end_date", pa.string()),
                        ("type", pa.string()), ("jurisdiction", pa.string()),
                        ("district", pa.string())])
    _write(f"{out_dir}/people.parquet", pa.table({
        "id": [f"person-{i}" for i in range(n_p)],
        "name": names,
        "state": p_state,
        "chamber": p_chamber,
        "constituent_area_id": p_area,
        "roles": pa.array(roles, pa.list_(role_t)),
    }))
    truth["current_district"] = want_role
    truth["edges"] = sorted(
        (f"person-{i}", z)
        for i in range(n_p)
        for z, zr in z_rect.items()
        if _rect_meets_diamond(d_rect[p_area[i]], zr)
    )

    # --- bills with action arrays; first/latest dates are the truth
    n_b = scale["bills"]
    base = dt.date(2023, 1, 3)
    b_ids, b_actions, b_first, b_last = [], [], {}, {}
    for i in range(n_b):
        offs = sorted(int(x) for x in rng.integers(0, 700, int(rng.integers(1, 6))))
        acts = [{"date": str(base + dt.timedelta(days=o)), "description": f"a{j}"}
                for j, o in enumerate(offs)]
        rng.shuffle(acts)
        cid = f"hr{i}-118"
        b_ids.append(cid)
        b_actions.append(acts)
        b_first[cid] = str(base + dt.timedelta(days=offs[0]))
        b_last[cid] = str(base + dt.timedelta(days=offs[-1]))
    act_t = pa.struct([("date", pa.string()), ("description", pa.string())])
    _write(f"{out_dir}/bills.parquet", pa.table({
        "canonical_id": b_ids,
        "title": [f"HR {i}" for i in range(n_b)],
        "legislative_session": ["118th"] * n_b,
        "actions": pa.array(b_actions, pa.list_(act_t)),
    }))
    truth["bill_first"], truth["bill_last"] = b_first, b_last

    # --- vote events: exact names, case/typo variants, unknown voters;
    # every tenth event references a bill that was never ingested
    n_v, per = scale["vote_events"], scale["votes_per_event"]
    by_block: dict[tuple[str, str], list[int]] = {}
    for i in range(n_p):
        by_block.setdefault((p_state[i], p_chamber[i]), []).append(i)
    blocks = sorted(by_block)
    v_rows, exact_truth, orphans = [], {}, []
    for e in range(n_v):
        st, ch = blocks[e % len(blocks)]
        members = by_block[(st, ch)]
        orphan = e % 10 == 9
        ident = f"hr{n_b + e}-118" if orphan else b_ids[int(rng.integers(0, n_b))]
        vid = f"vote-{e}"
        votes = []
        for j in range(per):
            pi = members[int(rng.integers(0, len(members)))]
            kind = j % 4
            if kind in (0, 1):
                # exact match (the exact pass compares case-insensitively)
                nm = names[pi] if kind == 0 else names[pi].lower()
                exact_truth[f"{vid}#{j}"] = f"person-{pi}"
            elif kind == 2:
                nm = names[pi][:-1]
            else:
                nm = f"zz unknown {e}-{j}"
            votes.append({"option": ["yes", "no"][int(rng.integers(0, 2))],
                          "voter_name": nm})
        if orphan:
            orphans.append(vid)
        org = "~" + json.dumps({"classification": ch})
        v_rows.append((vid, ident, "118", st, org, votes))
    vote_t = pa.struct([("option", pa.string()), ("voter_name", pa.string())])
    _write(f"{out_dir}/votes.parquet", pa.table({
        "id": [r[0] for r in v_rows],
        "identifier": [r[1] for r in v_rows],
        "legislative_session": [r[2] for r in v_rows],
        "state": [r[3] for r in v_rows],
        "organization": [r[4] for r in v_rows],
        "votes": pa.array([r[5] for r in v_rows], pa.list_(vote_t)),
    }))
    truth["exact_votes"] = {
        k: v for k, v in exact_truth.items() if k.split("#")[0] not in set(orphans)
    }
    truth["orphan_events"] = sorted(orphans)

    # --- precinct GeoJSON lines: rectangles with known centroids
    n_pr = scale["precincts"]
    lines, centroids = [], {}
    for i in range(n_pr):
        x0, y0 = float(rng.uniform(-90, -80)), float(rng.uniform(40, 45))
        w, h = float(rng.uniform(0.01, 0.5)), float(rng.uniform(0.01, 0.5))
        dem, rep = int(rng.integers(0, 5000)), int(rng.integers(0, 5000))
        geoid = f"55{i:03d}-{i:04d}"
        tot = dem + rep
        lines.append(json.dumps({
            "type": "Feature",
            "properties": {"GEOID": geoid, "state": "WI", "votes_dem": dem,
                           "votes_rep": rep, "votes_total": tot,
                           "pct_dem_lead": round((dem - rep) / max(tot, 1), 4),
                           "official_boundary": True},
            "geometry": json.loads(_rect_geojson(x0, y0, w, h)),
        }))
        centroids[geoid] = (y0 + h / 2, x0 + w / 2)
    _write(f"{out_dir}/precinct_lines.parquet", pa.table({"value": lines}))
    truth["precinct_centroids"] = centroids

    # --- PDF source documents (the summarize lifecycle's text leg)
    n_docs = scale["pdf_docs"]
    texts = _texts(rng, n_docs, 10, 100)
    _write(f"{out_dir}/pdf_docs.parquet", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
    }))
    keep: dict[str, int] = {}
    for i, (t, lang) in enumerate(zip(texts, pq.read_table(
            f"{out_dir}/pdf_docs.parquet", columns=["lang"])["lang"].to_pylist())):
        if lang in ("en", "de", "fr", "es") and 20 <= len(t.split()) <= 1000:
            keep.setdefault(t, i)
    truth["pdf_kept"] = sorted(keep.values())
    return truth


def _tag(i: int) -> str:
    """Short alphabetic suffix that keeps generated names unique."""
    s = ""
    i += 26
    while i:
        i, r = divmod(i, 26)
        s = chr(ord("a") + r) + s
    return s


def _diamond(b: tuple) -> list[tuple[float, float]]:
    cx, cy = (b[0] + b[2]) / 2, (b[1] + b[3]) / 2
    return [(cx, b[1]), (b[2], cy), (cx, b[3]), (b[0], cy)]


def _diamond_geojson(b: tuple) -> str:
    ring = [list(p) for p in _diamond(b)]
    return json.dumps({"type": "Polygon", "coordinates": [ring + [ring[0]]]})


def _rect_meets_diamond(r: tuple, b: tuple) -> bool:
    """Separating-axis test of an axis-aligned rectangle against the
    diamond inscribed in bbox ``b`` (both convex)."""
    rect = [(r[0], r[1]), (r[2], r[1]), (r[2], r[3]), (r[0], r[3])]
    dia = _diamond(b)
    w, h = b[2] - b[0], b[3] - b[1]
    for ax in ((1.0, 0.0), (0.0, 1.0), (h, w), (h, -w)):
        pa = [ax[0] * x + ax[1] * y for x, y in rect]
        pb = [ax[0] * x + ax[1] * y for x, y in dia]
        if max(pa) <= min(pb) or max(pb) <= min(pa):
            return False
    return True


def _write_records(path: str, rows: list[tuple]) -> None:
    bbox_t = pa.struct([("xmin", pa.float64()), ("ymin", pa.float64()),
                        ("xmax", pa.float64()), ("ymax", pa.float64())])
    _write(path, pa.table({
        "state_fips_code": [r[0] for r in rows],
        "district_code": [r[1] for r in rows],
        "geo_id": [r[2] for r in rows],
        "land_area": pa.array([r[3] for r in rows], pa.int64()),
        "water_area": pa.array([r[4] for r in rows], pa.int64()),
        "geometry": [r[5] for r in rows],
        "bbox": pa.array([dict(zip(("xmin", "ymin", "xmax", "ymax"), r[6]))
                          for r in rows], bbox_t),
    }))
