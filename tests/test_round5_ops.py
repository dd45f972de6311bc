"""Round-5 operator unit tests: Bradley-Terry ranking, char edit rate,
RAG retrieval eval — known-answer cases on constructed fixtures."""

from __future__ import annotations

import pytest

from repcheck_data_integration_spark import registry

from conftest import DOCUMENTS_DDL, SF_SMOKE as SF

registry.load_all_modules()


def test_bradley_terry_orders_by_quality(spark, tmp_path, write_table):
    """Blocks of BT_BLOCK docs; source 'good' docs always have a higher
    distinct-token ratio than 'bad' docs, so good beats bad in every
    block and must out-rank it with more wins."""
    from repcheck_data_integration_spark.operators.llm import BT_BLOCK

    rows = []
    for b in range(6):
        for k in range(BT_BLOCK):
            doc_id = b * BT_BLOCK + k
            if k % 2 == 0:
                # high distinct ratio: all-unique words
                text = " ".join(f"u{doc_id}w{j}" for j in range(12))
                src = "good"
            else:
                # low distinct ratio: one word repeated
                text = " ".join(["rep"] * 12)
                src = "bad"
            rows.append((doc_id, text, "en", src, len(text)))
    write_table("documents", rows, DOCUMENTS_DDL)
    out = registry.QUERIES["ml_bradley_terry"](spark, str(tmp_path)).collect()
    r = {row["source"]: row for row in out}
    assert set(r) == {"good", "bad"}
    assert r["good"]["rank"] == 1
    assert r["good"]["strength"] > r["bad"]["strength"]
    assert r["good"]["wins"] > r["bad"]["wins"]


def test_edit_rate_known_values(spark, tmp_path, write_table):
    """Identical cand/ref window -> distance 0; a known substitution
    count reproduces levenshtein exactly."""
    # text tokens join to a char stream; CHRF_CAND_CHARS=48,
    # CHRF_REF_START=13: cand = cs[0:48], ref = cs[12:12+64]
    base = "abcdefghijkl" * 10  # 120 chars, period 12 -> cand == ref prefix
    rows = [(1, " ".join([base[i:i+6] for i in range(0, len(base), 6)]),
             "en", "src0", len(base))]
    write_table("documents", rows, DOCUMENTS_DDL)
    out = registry.QUERIES["llm_eval_edit_rate"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    r = out[0]
    # period-12 stream: shifting by 12 chars reproduces the same text,
    # so the 48-char cand equals the first 48 chars of the ref window
    # and the extra ref tail costs pure insertions
    assert r["edit_distance"] == r["r_len"] - r["c_len"]


def test_rag_eval_ndcg_bounds(spark):
    """On the real fixture: rr and ndcg in [0, 1]; ndcg = 1 whenever all
    retrieved docs are relevant; rr = 1 whenever rank 1 is relevant."""
    out = registry.QUERIES["llm_rag_eval"](
        spark, SF
    ).collect()
    assert out
    for r in out:
        assert 0.0 <= r["rr"] <= 1.0
        assert 0.0 <= r["ndcg"] <= 1.0
        if r["n_rel"] == 3:
            assert r["ndcg"] == 1.0
        if r["first_rel_rank"] == 1:
            assert r["rr"] == 1.0


def test_embedding_pairs_symmetric_free_and_thresholded(spark):
    out = registry.QUERIES["dedup_embedding_pairs"](
        spark, SF
    ).collect()
    assert out
    pairs = {(r["vec1"], r["vec2"]) for r in out}
    assert len(pairs) == len(out)  # no duplicate candidate survives
    assert all(a < b for a, b in pairs)
    assert all(r["cosine_sim"] >= 0.25 for r in out)


def test_boilerplate_sentences_flags_shared_footer(spark, tmp_path, write_table):
    footer = "subscribe to our newsletter today."
    rows = []
    for i in range(6):
        body = f"unique sentence number {i} about topic {i}."
        text = (body + " " + footer) if i < 4 else body
        rows.append((i, text, "en", "src0", len(text)))
    write_table("documents", rows, DOCUMENTS_DDL)
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["dedup_boilerplate_sentences"](
            spark, str(tmp_path)
        ).collect()
    }
    for i in range(4):  # footer shared by 4 >= BOILER_MIN_DF docs
        assert out[i]["n_boiler_sents"] == 1
        assert out[i]["boiler_frac"] == pytest.approx(0.5)
    for i in (4, 5):
        assert out[i]["n_boiler_sents"] == 0


def test_ngram_novelty_copy_is_stale(spark, tmp_path, write_table):
    base = " ".join(f"w{j}" for j in range(30))
    rows = [
        (0, base, "en", "src0", len(base)),
        (1, base, "en", "src1", len(base)),          # exact copy -> 0
        (2, " ".join(f"x{j}" for j in range(30)), "en", "src2", 200),
    ]
    write_table("documents", rows, DOCUMENTS_DDL)
    out = {
        r["doc_id"]: r
        for r in registry.QUERIES["text_ngram_novelty"](
            spark, str(tmp_path)
        ).collect()
    }
    assert out[0]["novelty"] == 1.0
    assert out[1]["novelty"] == 0.0
    assert out[2]["novelty"] == 1.0


def test_rater_agreement_degenerate_unanimous_is_null(spark, tmp_path, write_table):
    """All three gates vote keep on every doc -> P_e = 1 and kappa is
    undefined; the op must NULL-propagate, not crash (CLAUDE.md
    degenerate-input rule)."""
    # every gate passes on every doc: 36 all-distinct tokens (length and
    # distinct-ratio gates), 6 of them stopwords (stopword gate)
    text = "the a of and to in " + " ".join(f"u{j}" for j in range(30))
    rows = [(i, text, "en", "src0", len(text)) for i in range(4)]
    write_table("documents", rows, DOCUMENTS_DDL)
    out = registry.QUERIES["dq_rater_agreement"](
        spark, str(tmp_path)
    ).collect()
    assert len(out) == 1
    assert out[0]["p_e"] == 1.0
    assert out[0]["fleiss_kappa"] is None


def test_mmr_selects_diverse_over_redundant(spark):
    """MMR's round-2/3 picks must differ from plain top-3 whenever the
    top hits are mutually similar; invariants: 3 ranks per query, no
    repeats, rank-1 equals the exact top-1, mmr_score <= relevance."""
    out = registry.QUERIES["llm_mmr_select"](
        spark, SF
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for qid, rows in by_q.items():
        rows = sorted(rows, key=lambda r: r["rank"])
        assert [r["rank"] for r in rows] == [1, 2, 3]
        ids = [r["vec_id"] for r in rows]
        assert len(set(ids)) == 3
        # rank 1 is the pure-relevance pick: mmr == relevance there
        assert rows[0]["mmr_score"] == rows[0]["relevance"]
        # later rounds subtract a cosine in [-1, 1]
        for r in rows[1:]:
            assert r["relevance"] - 1 - 1e-9 <= r["mmr_score"] <= r["relevance"] + 1 + 1e-9
