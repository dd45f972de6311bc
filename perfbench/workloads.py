"""The benchmark's workloads: which ops a pass runs, on which inputs, and
how each op's output is checked.

An op has a ``name`` and three steps the harness times or calls apart:

- ``build(spark)`` calls into the program and returns the DataFrames it
  built (this is where construction-time jobs run);
- ``drain(outs)`` materializes them: a noop-sink write, or a parquet
  write where the lifecycle keeps state;
- ``verify(outs)`` executes them (collecting, or draining and reading
  back written state) and raises ``Mismatch`` when the output is wrong.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import uuid

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
# byte-identical copies of the repository's sf0.001 test fixtures
# (TESTDATA.md, seed 42) for the tables the registry ops read
FIXTURES = os.path.join(HERE, "fixtures", "sf0.001")
# their DuckDB oracle twins' digests over those fixtures (expect.py)
EXPECTED = os.path.join(HERE, "expected.json")


class Mismatch(AssertionError):
    pass


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise Mismatch(what)


# --------------------------------------------------------------------------
# registry workloads
# --------------------------------------------------------------------------

class RegistryOp:
    def __init__(self, name: str, want: list) -> None:
        self.name = name
        self.want = tuple(want)

    def build(self, spark) -> list:
        from repcheck_data_integration_spark import registry

        return [registry.QUERIES[self.name](spark, FIXTURES)]

    def drain(self, outs) -> None:
        noop(outs[0])

    def verify(self, outs) -> None:
        # digest imports tools.check, importable once the root is on the path
        from digest import spark_digest

        got = spark_digest(outs[0])
        _expect(got == self.want, f"digest {got} != oracle {self.want}")


class RegistryWorkload:
    """Registry queries over the committed fixtures. The inputs are
    fixed, so the seed only permutes the op order of each pass."""

    ordered = False
    # after the verify step the first pass still runs ~30% slower than
    # the later ones, which hold level with C1-only compilation
    warm_passes = 2

    def __init__(self, names: list[str]) -> None:
        self.names = names
        self.ops: list[RegistryOp] = []

    def prepare(self, data_dir: str, seed: int) -> None:
        with open(EXPECTED) as f:
            want = json.load(f)
        self.ops = [RegistryOp(n, want[n]) for n in self.names]

    def advance(self) -> None:
        pass

    @contextlib.contextmanager
    def probes(self):
        yield

    def counters(self, spark) -> dict[str, float]:
        return {}


# --------------------------------------------------------------------------
# civic_ingest: the paper's lifecycle through plans.pipelines
# --------------------------------------------------------------------------

AS_OF = "2024-06-01"
JURISDICTION = "ocd-jurisdiction/country:us/government"


class CivicStage:
    """One lifecycle stage; ``ctx`` carries frames between stages of a
    pass and the parquet-state generation between passes."""

    def __init__(self, name, wl, build, drain, verify) -> None:
        self.name = name
        self.wl = wl
        self._build, self._drain, self._verify = build, drain, verify

    def build(self, spark) -> list:
        return self._build(spark, self.wl)

    def drain(self, outs) -> None:
        self._drain(self.wl, outs)

    def verify(self, outs) -> None:
        self._verify(self.wl, outs)


class CivicWorkload:
    """bills → votes → roles → edges (areas, then upsert) → precincts
    (upsert) → pdf, on reference-shaped inputs generated from the seed. Each pass
    merges into the parquet state the previous pass wrote."""

    ordered = True
    warm_passes = 0  # the verify step executes every stage; a pass costs 5-20 s

    def __init__(self, scale: dict[str, int]) -> None:
        self.scale = scale
        self.ctx: dict = {}  # frames later stages of a pass read
        self.gen_no = 0
        self.last_write = (0, 0.0)
        self.probe: dict = {}

    def prepare(self, data_dir: str, seed: int) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        self.dir = os.path.join(data_dir, "civic")
        self.truth = gen.civic_inputs(self.dir, self.scale, seed)
        self.state_dir = os.path.join(data_dir, "state")
        os.makedirs(self.state_dir, exist_ok=True)
        # initial state: no edges; a stale copy of every other precinct
        pq.write_table(pa.table({
            "person_id": pa.array([], pa.string()),
            "area_id": pa.array([], pa.string()),
            "relationship_type": pa.array([], pa.string()),
        }), self._state("edges", 0))
        stale = sorted(self.truth["precinct_centroids"])[::2]
        pq.write_table(pa.table({
            "precinct_id": [str(uuid.uuid5(uuid.NAMESPACE_OID, g)) for g in stale],
            "state": ["WI"] * len(stale),
            "votes_dem": pa.array([0] * len(stale), pa.int64()),
            "votes_rep": pa.array([0] * len(stale), pa.int64()),
            "votes_total": pa.array([0] * len(stale), pa.int64()),
            "pct_dem_lead": [0.0] * len(stale),
            "official_boundary": [False] * len(stale),
            "geometry": ["{}"] * len(stale),
            "centroid_lat": [0.0] * len(stale),
            "centroid_lon": [0.0] * len(stale),
        }), self._state("precincts", 0))
        self.input_bytes = sum(
            os.path.getsize(os.path.join(self.dir, f))
            for f in ("people.parquet", "district_records.parquet",
                      "zip_records.parquet", "precinct_lines.parquet"))
        self.ops = [CivicStage(n, self, *fns) for n, fns in STAGES]

    def _state(self, kind: str, gen_no: int) -> str:
        return os.path.join(self.state_dir, f"{kind}_{gen_no}.parquet")

    def read(self, spark, name: str):
        return spark.read.parquet(os.path.join(self.dir, f"{name}.parquet"))

    def advance(self) -> None:
        """Called once per pass: the state this pass wrote becomes the
        next pass's existing state (kept as is if an upsert failed)."""
        import pyarrow.parquet as pq

        rows = size = 0
        for kind in ("edges", "precincts"):
            path = self._state(kind, self.gen_no + 1)
            if not os.path.exists(os.path.join(path, "_SUCCESS")):
                return
            for f in os.listdir(path):
                if f.endswith(".parquet"):
                    rows += pq.read_metadata(os.path.join(path, f)).num_rows
                    size += os.path.getsize(os.path.join(path, f))
        self.last_write = (rows, size / 2**20)
        self.gen_no += 1
        for kind in ("edges", "precincts"):
            shutil.rmtree(self._state(kind, self.gen_no - 1), ignore_errors=True)

    @contextlib.contextmanager
    def probes(self):
        """Inside a traced pass, capture the frames the edges and votes
        stages build inside the pipeline module, to count refine and
        scoring work. The module's own functions are back in place for
        every other pass."""
        from repcheck_data_integration_spark.plans import pipelines as P

        grid, resolve = P.bbox_grid_join, P.resolve_entities

        def bbox_grid_join(*a, **k):
            self.probe["pairs"] = out = grid(*a, **k)
            return out

        def resolve_entities(probes, candidates, block_keys, **k):
            self.probe["resolve"] = (probes, candidates, block_keys)
            self.probe["matched"] = out = resolve(probes, candidates, block_keys, **k)
            return out

        P.bbox_grid_join, P.resolve_entities = bbox_grid_join, resolve_entities
        try:
            yield
        finally:
            P.bbox_grid_join, P.resolve_entities = grid, resolve

    def counters(self, spark) -> dict[str, float]:
        from pyspark.sql import functions as F

        out: dict[str, float] = {}
        if "pairs" in self.probe:
            pairs = self.probe["pairs"].count()
            out["spatial.refine_pairs"] = pairs
            out["spatial.refine_hit_ratio"] = len(self.truth["edges"]) / max(pairs, 1)
        if "resolve" in self.probe:
            probes, cands, keys = self.probe["resolve"]
            matched = self.probe["matched"]
            exact = matched.filter(F.col("method") == "exact").select("probe_id")
            scored = probes.join(exact, "probe_id", "left_anti").join(cands, keys).count()
            fuzzy = matched.filter(F.col("method") == "fuzzy").count()
            out["resolve.pairs_scored"] = scored
            out["resolve.match_ratio"] = fuzzy / max(scored, 1)
        return out


def _bills_build(spark, wl):
    from repcheck_data_integration_spark.plans import pipelines as P

    jid = P.require_single_jurisdiction(spark.createDataFrame([(JURISDICTION,)], ["id"]))
    wl.ctx["bills"] = P.derive_bills(wl.read(spark, "bills"), jid)
    return [wl.ctx["bills"]]


def _bills_verify(wl, outs):
    rows = outs[0].select("canonical_id", "first_action_date", "latest_action_date").collect()
    _expect(len(rows) == len(wl.truth["bill_first"]), "bill count")
    for r in rows:
        _expect(str(r[1].date()) == wl.truth["bill_first"][r[0]], f"first date {r[0]}")
        _expect(str(r[2].date()) == wl.truth["bill_last"][r[0]], f"latest date {r[0]}")


def _votes_build(spark, wl):
    from repcheck_data_integration_spark.plans import pipelines as P

    people = wl.read(spark, "people").select("id", "state", "chamber", "name")
    return list(P.resolve_votes(wl.read(spark, "votes"), wl.ctx["bills"], people))


def _votes_drain(wl, outs):
    noop(outs[0])
    noop(outs[1])


def _votes_verify(wl, outs):
    got = {}
    for r in outs[0].collect():
        for pos, v in enumerate(r["votes"]):
            got[f"{r['id']}#{pos}"] = v["voter_id"]
    for probe, pid in wl.truth["exact_votes"].items():
        _expect(got.get(probe) == pid, f"vote {probe} resolved to {got.get(probe)}")
    dropped = sorted(r["id"] for r in outs[1].collect())
    _expect(dropped == wl.truth["orphan_events"], "orphan vote events")


def _roles_build(spark, wl):
    from repcheck_data_integration_spark.plans import pipelines as P

    return [P.current_roles(wl.read(spark, "people").select("id", "roles"), AS_OF)]


def _roles_verify(wl, outs):
    got = {r["id"]: r["district"] for r in outs[0].collect()}
    _expect(got == wl.truth["current_district"], "current roles")


def _edges_build(spark, wl):
    """Census areas (districts and ZIPs, with the duplicate-id check),
    then person→ZIP edges merged into the existing edge state."""
    from repcheck_data_integration_spark.plans import pipelines as P

    fips = wl.read(spark, "fips")
    areas = P.build_areas(wl.read(spark, "district_records"), fips, "cd").unionByName(
        P.build_areas(wl.read(spark, "zip_records"), fips, "zipcode"))
    P.check_no_duplicate_ids(areas)
    people = wl.read(spark, "people").select("id", "constituent_area_id")
    edges = P.person_zip_edges(people, areas)
    existing = spark.read.parquet(wl._state("edges", wl.gen_no))
    return [P.upsert_edges(existing, edges), areas]


def _edges_drain(wl, outs):
    outs[0].write.mode("overwrite").parquet(wl._state("edges", wl.gen_no + 1))


def _edges_verify(wl, outs):
    n = outs[1].count()
    _expect(n == wl.truth["districts"] + wl.scale["zips"], f"area count {n}")
    _edges_drain(wl, outs)
    spark = outs[0].sparkSession
    rows = spark.read.parquet(wl._state("edges", wl.gen_no + 1)).collect()
    got = sorted((r["person_id"], r["area_id"]) for r in rows)
    _expect(got == [tuple(e) for e in wl.truth["edges"]], f"edges {len(got)}")


def _precincts_build(spark, wl):
    from repcheck_data_integration_spark.plans import pipelines as P

    existing = spark.read.parquet(wl._state("precincts", wl.gen_no))
    return [P.ingest_precincts(existing, wl.read(spark, "precinct_lines"))]


def _precincts_drain(wl, outs):
    outs[0].write.mode("overwrite").parquet(wl._state("precincts", wl.gen_no + 1))


def _precincts_verify(wl, outs):
    _precincts_drain(wl, outs)
    spark = outs[0].sparkSession
    rows = spark.read.parquet(wl._state("precincts", wl.gen_no + 1)).collect()
    want = wl.truth["precinct_centroids"]
    _expect(len(rows) == len(want), f"precinct count {len(rows)}")
    by_id = {str(uuid.uuid5(uuid.NAMESPACE_OID, g)): c for g, c in want.items()}
    for r in rows:
        lat, lon = by_id[r["precinct_id"]]
        _expect(abs(r["centroid_lat"] - lat) < 1e-6 and abs(r["centroid_lon"] - lon) < 1e-6,
                f"centroid {r['precinct_id']}: {r['centroid_lat']}, {r['centroid_lon']}"
                f" != {lat}, {lon}")
        _expect(r["votes_total"] == r["votes_dem"] + r["votes_rep"], "stale precinct kept")


def _pdf_build(spark, wl):
    from repcheck_data_integration_spark.plans import pipelines as P

    return [P.pdf_ingest_curation(wl.read(spark, "pdf_docs"))]


def _pdf_verify(wl, outs):
    got = sorted(r["doc_id"] for r in outs[0].collect())
    _expect(got == wl.truth["pdf_kept"], "pdf curation kept set")


def _noop_first(wl, outs):
    noop(outs[0])


STAGES = [
    ("bills", (_bills_build, _noop_first, _bills_verify)),
    ("votes", (_votes_build, _votes_drain, _votes_verify)),
    ("roles", (_roles_build, _noop_first, _roles_verify)),
    ("edges", (_edges_build, _edges_drain, _edges_verify)),
    ("precincts", (_precincts_build, _precincts_drain, _precincts_verify)),
    ("pdf", (_pdf_build, _noop_first, _pdf_verify)),
]


# --------------------------------------------------------------------------

FIXED_COST_OPS = [
    "graph_hits",  # construction-time convergence jobs
    "tpch_q3_shipping_priority",  # tables.load_bucketed layout reader
]

CIVIC_SCALE = dict(people=120, districts=24, zips=160, bills=300,
                   vote_events=60, votes_per_event=16, precincts=100,
                   pdf_docs=60)
CIVIC_TOY = dict(people=40, districts=12, zips=60, bills=100,
                 vote_events=20, votes_per_event=8, precincts=30, pdf_docs=20)


def make(name: str, toy: bool):
    if name == "fixed_cost":
        return RegistryWorkload(FIXED_COST_OPS)
    if name == "civic_ingest":
        return CivicWorkload(CIVIC_TOY if toy else CIVIC_SCALE)
    raise KeyError(name)
