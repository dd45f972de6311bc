"""Graph operator tests: closed-form answers on hand-built graphs, and
every graph_* op against its DuckDB oracle on degenerate inputs."""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

from repcheck_data_integration_spark import registry
from repcheck_data_integration_spark.operators.graph import (
    PAIR_MIN_QTY,
    graph_katz_centrality,
    graph_modularity,
)
from conftest import SF_SMOKE

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))
from check import canon_rows, type_mismatches  # noqa: E402

registry.load_all_modules()


def test_jaccard_neighbors_closed_form(spark, tmp_path):
    """Customers sharing 3 of their suppliers: J = common/(d1+d2-common)
    exactly; pairs below the shared-supplier gate are absent."""
    import os
    from pyspark.sql import functions as F
    from repcheck_data_integration_spark.operators.graph import (
        PAIR_MIN_QTY,
        graph_jaccard_neighbors,
    )
    # A buys from suppliers 1,2,3,4; B from 1,2,3; C from 9 only
    edges = [(100, s) for s in (1, 2, 3, 4)] + [(200, s) for s in (1, 2, 3)] + [
        (300, 9)
    ]
    orows, lrows = [], []
    for i, (cust, supp) in enumerate(edges):
        orows.append((i, cust, "O", 1.0, "x"))
        lrows.append((i, 1, supp, 1, float(PAIR_MIN_QTY), 1.0, 0.0, 0.0, "N", "O"))
    spark.createDataFrame(
        orows,
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderpriority"],
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "orders.parquet")
    )
    spark.createDataFrame(
        lrows,
        ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
         "l_quantity", "l_extendedprice", "l_discount", "l_tax",
         "l_returnflag", "l_linestatus"],
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(str(tmp_path), "lineitem.parquet")
    )
    out = graph_jaccard_neighbors(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["cust1"], r["cust2"]) == (100, 200)
    assert r["n_common"] == 3 and (r["deg1"], r["deg2"]) == (4, 3)
    assert r["jaccard"] == 0.75


def test_label_propagation_two_cliques(spark):
    """Two 4-cliques joined by a single bridge edge must resolve to two
    communities labeled by each clique's minimum id."""
    from repcheck_data_integration_spark.operators.graph import label_propagation

    cliques = []
    for base in (0, 10):
        ids = [base + i for i in range(4)]
        cliques += [(a, b) for a in ids for b in ids if a != b]
    bridge = [(3, 10), (10, 3)]
    und = spark.createDataFrame(cliques + bridge, ["v", "n"])
    out = {r["v"]: r["community"] for r in label_propagation(und, rounds=3).collect()}
    assert all(out[i] == 0 for i in range(4)), out
    assert all(out[10 + i] == 10 for i in range(4)), out


def _copurchase_fixture(write_table, cust_suppliers):
    """orders+lineitem where customer c buys qty-50 from each supplier in
    cust_suppliers[c] (one order per customer)."""
    orders = [(c, c) for c in cust_suppliers]
    li = [
        (c, s, 50.0)
        for c, supps in cust_suppliers.items()
        for s in supps
    ]
    write_table("orders", orders, ["o_orderkey", "o_custkey"])
    write_table(
        "lineitem", li,
        ["l_orderkey", "l_suppkey", "l_quantity"],
    )


def test_katz_triangle_exact(spark, tmp_path, write_table):
    """K3 (three customers sharing 3 suppliers pairwise): deg 2, w2 = 4,
    w3 = 8 for every node -> katz = (128 + 32 + 8)/512 = 0.328125,
    an EXACT binary double."""
    _copurchase_fixture(
        write_table, {1: [10, 11, 12], 2: [10, 11, 12], 3: [10, 11, 12]}
    )
    rows = graph_katz_centrality(spark, str(tmp_path)).collect()
    assert len(rows) == 3
    for r in rows:
        assert r["degree"] == 2
        assert r["katz_score"] == 168.0 / 512.0


def test_modularity_single_community_zero(spark, tmp_path, write_table):
    """A single K3 community has Q = e/m - (d/2m)^2 = 1 - 1 = 0."""
    _copurchase_fixture(
        write_table, {1: [10, 11, 12], 2: [10, 11, 12], 3: [10, 11, 12]}
    )
    row = graph_modularity(spark, str(tmp_path)).collect()[0]
    assert row["n_nodes"] == 3 and row["n_edges"] == 3
    assert row["n_communities"] == 1
    assert row["modularity"] == 0.0


def test_ktruss_k4_keeps_clique_drops_pendant(spark, tmp_path, write_table):
    """K4 on customers 1-4 (every pair shares 3 suppliers) survives a
    4-truss (each edge in 2 triangles); a pendant edge 4-5 peels away."""
    k4 = {c: [10, 11, 12] for c in (1, 2, 3, 4)}
    # customer 5 shares suppliers with 4 ONLY (via a disjoint supplier
    # trio bought by just 4 and 5)
    k4[4] = [10, 11, 12, 20, 21, 22]
    k4[5] = [20, 21, 22]
    _copurchase_fixture(write_table, k4)
    from repcheck_data_integration_spark.operators.graph import graph_ktruss

    rows = graph_ktruss(spark, str(tmp_path)).collect()
    edges = {(r["cust1"], r["cust2"]): r["support"] for r in rows}
    assert set(edges) == {(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)}
    assert all(s == 2 for s in edges.values())


# Degenerate inputs, each graph op against its oracle with strict type
# families: an empty purchase graph, and a graph of one purchase edge
# heavy enough for the thinned edge set (so every co-purchase relation is
# empty, and every degree is 1).
GRAPH_OPS = sorted(n for n in registry.QUERIES if n.startswith("graph_"))


def _degenerate_dir(tmp_path_factory, name: str, orders: str, lineitem: str):
    """An sf dir whose orders and lineitem keep the smoke tables' columns
    and types. ``orders`` and ``lineitem`` each finish a ``SELECT *``
    over that smoke table, which they call ``{src}``."""
    tmp = str(tmp_path_factory.mktemp(name))
    with duckdb.connect() as con:
        for t, select in (("orders", orders), ("lineitem", lineitem)):
            src = f"read_parquet('{SF_SMOKE}/{t}.parquet')"
            con.sql(
                f"COPY (SELECT * {select.format(src=src)}) "
                f"TO '{tmp}/{t}.parquet' (FORMAT parquet)"
            )
    return tmp


@pytest.fixture(scope="module")
def empty_graph(tmp_path_factory):
    return _degenerate_dir(
        tmp_path_factory, "empty_graph", "FROM {src} LIMIT 0", "FROM {src} LIMIT 0"
    )


@pytest.fixture(scope="module")
def one_edge(tmp_path_factory):
    return _degenerate_dir(
        tmp_path_factory,
        "one_edge",
        "REPLACE (1::BIGINT AS o_orderkey, 1::BIGINT AS o_custkey)"
        " FROM {src} LIMIT 1",
        "REPLACE (1::BIGINT AS l_orderkey, 1::BIGINT AS l_suppkey,"
        f" {PAIR_MIN_QTY}::DOUBLE AS l_quantity) FROM {{src}} LIMIT 1",
    )


@pytest.mark.parametrize("graph", ["empty_graph", "one_edge"])
@pytest.mark.parametrize("name", GRAPH_OPS)
def test_degenerate_graph_matches_oracle(spark, request, graph, name):
    sf = request.getfixturevalue(graph)
    spark.catalog.clearCache()
    sdf = registry.QUERIES[name](spark, sf)
    srows = [tuple(r) for r in sdf.collect()]
    with duckdb.connect() as con:
        for t in ("orders", "lineitem"):
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')"
            )
        rel = con.sql(registry.ORACLE[name])
        dcols, dtypes, drows = rel.columns, rel.types, rel.fetchall()
    assert not type_mismatches(sdf.columns, sdf.schema, dcols, dtypes)
    assert canon_rows(sdf.columns, srows) == canon_rows(dcols, drows)
