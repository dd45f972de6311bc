"""Tests for the sampling and split operators (operators/sampling.py):
the leakage-safe split invariant."""

from __future__ import annotations

from repcheck_data_integration_spark import registry

from conftest import SF_SMOKE as SF

registry.load_all_modules()


# --- split_leakage_safe: the no-leakage invariant ---------------------------


def test_split_leakage_safe_clusters_never_straddle(spark):
    """Every near-dup cluster lands in exactly ONE split; singleton docs
    keep the plain hash-of-own-id assignment (reprocessing stability)."""
    from repcheck_data_integration_spark import registry

    registry.load_all_modules()
    sf = SF
    rows = registry.QUERIES["split_leakage_safe"](spark, sf).collect()
    comp = {
        r["doc_id"]: r["canonical_doc_id"]
        for r in registry.QUERIES["dedup_components"](spark, sf).collect()
    }
    by_key: dict[int, set] = {}
    for r in rows:
        by_key.setdefault(r["split_key"], set()).add(r["split"])
        if r["doc_id"] in comp:
            assert r["split_key"] == comp[r["doc_id"]]
        else:
            assert r["split_key"] == r["doc_id"]
    assert all(len(s) == 1 for s in by_key.values())
    # sanity: the fixture actually HAS a multi-member cluster, so the
    # invariant is exercised, not vacuous
    from collections import Counter

    sizes = Counter(comp.values())
    assert any(v >= 2 for v in sizes.values())
    # and the plain split would have straddled at least one cluster in
    # general — verify the op's key differs from doc_id for members
    assert any(r["split_key"] != r["doc_id"] for r in rows)
