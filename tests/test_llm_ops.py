"""Sanity tests for the LLM-pipeline operators at sf0.001 — the differential
harness (tools/check.py) is the primary gate; these pin the *semantics*
(injected duplicates are actually found, kNN ranks the planted copy first)."""

import pytest

from proxyhouse_spark import registry
from tests.conftest import SF_SMALL


def test_dedup_exact_finds_injected_copies(spark):
    out = registry.QUERIES["q_dedup_exact"](spark, SF_SMALL)
    dups = out.filter("n_copies > 1").collect()
    # doc_id % 10 == 0 → exact copy injected; keeper is always the original
    assert len(dups) == 50
    assert all(r.keeper_doc_id < 1_000_000 for r in dups)


def test_minhash_neardup_finds_exact_pairs(spark):
    out = registry.QUERIES["q_minhash_neardup"](spark, SF_SMALL).collect()
    pairs = {(r.doc_a, r.doc_b) for r in out}
    # every exact-copy pair shares all bands and has jaccard 1.0
    exact = [(d, d + 1_000_000) for d in range(0, 500, 10)]
    assert all(p in pairs for p in exact)
    assert all(r.jaccard >= 0.6 for r in out)


def test_ngram_jaccard_near_copies_high_similarity(spark):
    out = registry.QUERIES["q_ngram_jaccard"](spark, SF_SMALL).collect()
    assert len(out) == 50  # doc_id % 10 == 5 near-copies
    assert all(0.7 <= r.jaccard < 1.0 for r in out)


def test_knn_cosine_top_hit_is_planted_copy(spark):
    out = registry.QUERIES["q_knn_cosine"](spark, SF_SMALL).collect()
    # probe vec_id=0 has an injected near-identical copy at 1_000_000
    assert out[0].vec_id == 1_000_000
    assert out[0].cos_sim > 0.99
    assert out[0].cos_sim >= out[-1].cos_sim


def test_embedding_neardup_exactly_the_injected_pairs(spark):
    out = registry.QUERIES["q_embedding_neardup"](spark, SF_SMALL).collect()
    assert {(r.vec_a, r.vec_b) for r in out} == {
        (v, v + 1_000_000) for v in range(0, 500, 25)
    }


def test_multimodal_features_deterministic(spark):
    a = registry.QUERIES["q_multimodal_features"](spark, SF_SMALL)
    rows = {r.doc_id: r for r in a.collect()}
    assert len(rows) == 500
    r0 = rows[0]
    assert r0.n_bytes > 0 and 0 <= r0.byte_sum <= 255 * r0.n_bytes
    assert r0.head_byte >= 0 and r0.byte_sumsq >= r0.byte_sum


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_approx_distinct_verdicts_and_exact_twin(spark, sf_dir):
    """Since round 9 q_approx_distinct carries its own accuracy law as an
    in-query verdict (hll_ok: |approx − exact| ≤ max(2, ⌈0.125·exact⌉),
    2.5σ of rsd=0.05 against a worst observed 6.7% ≈ 1.3σ —
    tools/approx_probe.py 2026-08-15), hash-enforced by the DuckDB oracle
    at the driver. Pin here, at BOTH fixture scales: every verdict is 1
    and the cross-engine n_users column agrees with q_count_distinct."""
    rows = {
        r.event_type: r
        for r in registry.QUERIES["q_approx_distinct"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r.n_users
        for r in registry.QUERIES["q_count_distinct"](spark, sf_dir).collect()
    }
    assert set(rows) == set(exact)
    for k, r in rows.items():
        assert r.n_users == exact[k]
        assert r.hll_ok == 1, (k, r.n_users)


def test_normalization_dialects_agree_on_adversarial_text(spark):
    """The corpus fixture happens to contain no punctuation, so the oracle
    path through the normalization chain was vacuous until this test: DuckDB
    regexp_replace is first-match-only unless given 'g', while Spark always
    replaces globally. Run both dialect spellings on text that exercises
    every branch (punctuation runs, multi-space runs, mixed case, leading/
    trailing junk) and require byte-identical output."""
    import duckdb

    from proxyhouse_spark.operators.textops import _NORM, _NORM_DUCK

    adversarial = [
        "Hello,   World!!!  ",
        "  a--b--c   d!!e??f  ",
        "ALL CAPS & sym@bols #here# 123",
        "tabs\tand\nnewlines stay",  # \t and \n are non-[a-z0-9 ] → stripped
        "no punctuation single spaced",
        "!!!only junk???",
        "a  b   c    d",
        "",
    ]
    spark_norm = _NORM.format(t="t")
    duck_norm = _NORM_DUCK.format(t="t")

    df = spark.createDataFrame([(i, s) for i, s in enumerate(adversarial)], "i INT, t STRING")
    df.createOrReplaceTempView("adv_norm")
    got_spark = {
        r.i: r.n
        for r in spark.sql(f"SELECT i, {spark_norm} AS n FROM adv_norm").collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE adv_norm(i INT, t VARCHAR)")
    con.executemany("INSERT INTO adv_norm VALUES (?, ?)", list(enumerate(adversarial)))
    got_duck = dict(con.execute(f"SELECT i, {duck_norm} FROM adv_norm").fetchall())

    assert got_spark == got_duck
    # and the chain genuinely did work on this input (not vacuous)
    assert got_spark[0] == "hello world"
    assert got_spark[6] == "a b c d"


def test_decoder_seam_dispatch(monkeypatch):
    """r2 verdict: the HAVE_REAL_DECODER flag used to raise on its True
    branch. Pin the corrected dispatch: False → deterministic byte moments,
    True → routes to _decode_features_real."""
    from proxyhouse_spark.operators import multimodal as mm

    # this container ships no media libs
    assert mm.HAVE_REAL_DECODER is False
    assert mm._decode_features(b"") == (0, 0, -1, -1)
    assert mm._decode_features(b"\x01\x02\x03") == (6, 14, 1, 3)

    calls = []
    monkeypatch.setattr(mm, "HAVE_REAL_DECODER", True)
    monkeypatch.setattr(
        mm, "_decode_features_real", lambda p: calls.append(p) or (9, 9, 9, 9)
    )
    assert mm._decode_features(b"\xff") == (9, 9, 9, 9)
    assert calls == [b"\xff"]


def test_kmeans_partitions_corpus_exactly(spark):
    from proxyhouse_spark.operators.clustering import K

    rows = registry.QUERIES["q_kmeans_embed"](spark, SF_SMALL).collect()
    assert len(rows) == K  # no cluster emptied at fixture scale
    assert sum(r.n_members for r in rows) == 500  # a partition of the corpus
    assert all(r.centroid_norm > 0 for r in rows)


def test_semantic_dedup_drops_exactly_planted_twins(spark):
    """SemDeDup must find the injected +0.05-perturbed twins (cos≈0.999)
    and nothing from the IID bulk, and each twin's keeper must be its
    original (the only other vector within tau)."""
    rows = registry.QUERIES["q_semantic_dedup"](spark, SF_SMALL).collect()
    assert rows, "planted twins must be found"
    for r in rows:
        assert r.dup_id == r.keep_id + 1_000_000
        assert r.cos_sim >= 0.99


@pytest.mark.parametrize(
    "sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_approx_percentiles_within_rank_error(spark, sf_dir):
    """Since round 9 the rank-error contract (accuracy=1000 → each approx
    quantile lands between the exact quantiles at q ± 0.01, covering the
    sketch's 1/1000 rank error plus the non-interpolating value snap) is
    an in-query verdict hash-enforced by the DuckDB oracle. Pin here that
    every verdict is 1 at both fixture scales and that the cross-engine
    exact columns agree with q_percentiles, plus re-derive ONE verdict
    independently so the in-query spelling can't go vacuously true."""
    approx = {
        r.event_type: r
        for r in registry.QUERIES["q_approx_percentiles"](spark, sf_dir).collect()
    }
    exact = {
        r.event_type: r
        for r in registry.QUERIES["q_percentiles"](spark, sf_dir).collect()
    }
    assert set(approx) == set(exact)
    for et, r in approx.items():
        for col in ("p50", "p95", "p99"):
            assert getattr(r, col) == getattr(exact[et], col), (et, col)
            assert getattr(r, f"{col}_ok") == 1, (et, col)

    from proxyhouse_spark.tables import table

    table(spark, sf_dir, "events").createOrReplaceTempView("events")
    # independent re-derivation of the p95 verdict for one group
    et = sorted(approx)[0]
    row = spark.sql(
        """SELECT approx_percentile(value, 0.95, 1000) AS a,
                  percentile(value, 0.94) AS lo, percentile(value, 0.96) AS hi
           FROM events WHERE event_type = '{}'""".format(et)
    ).collect()[0]
    assert row.lo <= row.a <= row.hi, (et, row.a, row.lo, row.hi)


def test_linreg_matches_numpy_polyfit(spark):
    """Closed-form distributed OLS must agree with numpy's lstsq on the
    same points (sanity beyond the DuckDB differential, which shares the
    SQL shape)."""
    import numpy as np

    rows = registry.QUERIES["q_linreg_by_group"](spark, SF_SMALL).collect()
    from proxyhouse_spark.tables import table

    ev = table(spark, SF_SMALL, "events")
    pts = ev.selectExpr("event_type", "hour(ts) AS x", "round(value, 6) AS y").collect()
    by_type: dict[str, list] = {}
    for p in pts:
        by_type.setdefault(p.event_type, []).append((p.x, p.y))
    for r in rows:
        xs, ys = zip(*by_type[r.event_type])
        slope, intercept = np.polyfit(np.array(xs, float), np.array(ys, float), 1)
        assert abs(r.slope - slope) < 1e-4, (r.event_type, r.slope, slope)
        assert abs(r.intercept - intercept) < 1e-4


def test_token_entropy_bounds_and_degenerate_doc(spark):
    rows = registry.QUERIES["q_token_entropy"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 < r.norm_entropy <= 1.0001
        assert r.n_distinct <= r.n_tokens
        # entropy is bounded by log2 of the support size
        import math

        assert r.entropy <= math.log2(r.n_distinct) + 1e-4  # 6dp term rounding


def test_kmeans_loop_converges_to_fixpoint(spark):
    """Driver-loop Lloyd (the production N37 pattern) must terminate well
    inside the round budget, return a corpus partition, and actually BE a
    fixpoint: re-assigning against its centroids changes nothing."""
    from proxyhouse_spark.operators.clustering import K, kmeans_loop

    final, rounds = kmeans_loop(spark, SF_SMALL)
    assert rounds < 25, "did not converge"
    rows = final.collect()
    assert len(rows) == 500
    clusters = {r.c for r in rows}
    assert len(clusters) <= K
    # fixpoint: the loop's own final assignment equals one more assignment
    again, rounds2 = kmeans_loop(spark, SF_SMALL)
    assert rounds2 == rounds  # deterministic
    assert {(r.vec_id, r.c) for r in rows} == {
        (r.vec_id, r.c) for r in again.collect()
    }


def test_fuzzy_match_finds_planted_typos(spark):
    """Every planted one-edit variant must match its original at distance 1
    through the blocking — BOTH classes: doc_id % 7 == 3 → +3e6 (5th char
    deleted, prefix block finds it) and doc_id % 7 == 5 → +4e6 (2nd char
    deleted — INSIDE the 4-char prefix, findable only through the second
    suffix-key blocking pass; VERDICT r07 #4's recall gap)."""
    rows = registry.QUERIES["q_fuzzy_match"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    for offset, residue in ((3_000_000, 3), (4_000_000, 5)):
        planted = {(r.doc_a, r.doc_b) for r in rows if r.doc_b == r.doc_a + offset}
        expected = {
            (d.doc_id, d.doc_id + offset) for d in docs if d.doc_id % 7 == residue
        }
        assert planted == expected
        for r in rows:
            if r.doc_b == r.doc_a + offset:
                assert r.dist == 1


def test_weighted_sample_prefers_heavy_docs_and_plans_window_limit(spark):
    """A-ES sanity: the weighted draw must skew toward high-weight docs
    (mean weight of kept >> stratum mean), be a per-stratum top-k, and
    plan WindowGroupLimit (map-side pruning, no global sort)."""
    from proxyhouse_spark.operators.sampling import WSAMPLE_K

    kept = registry.QUERIES["q_weighted_sample"](spark, SF_SMALL).collect()
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").collect()
    by_lang: dict[str, list[int]] = {}
    for d in docs:
        by_lang.setdefault(d.lang, []).append(d.n_chars)
    kept_by_lang: dict[str, list[int]] = {}
    for r in kept:
        kept_by_lang.setdefault(r.lang, []).append(r.weight)
    for lang, ws in kept_by_lang.items():
        assert len(ws) == min(WSAMPLE_K, len(by_lang[lang]))
        corpus_mean = sum(by_lang[lang]) / len(by_lang[lang])
        assert sum(ws) / len(ws) > corpus_mean  # weight-proportional skew
    from test_plans import plan_of  # the module pytest collects: one plan cache

    assert "WindowGroupLimit" in plan_of(spark, "q_weighted_sample")


def test_dedup_recall_measures_planted_classes(spark):
    """The audit's whole point: exact copies are ALWAYS caught (identical
    shingle sets can't miss a band), while near-copy recall is high but
    honestly < 100% — a short doc's first-token drop can fall below the
    0.6 Jaccard verify threshold, and the audit is what surfaces that
    (at sf0.001 it reports exactly 1 of 50 near pairs missed)."""
    rows = {
        r["pair_class"]: r["n_pairs"]
        for r in registry.QUERIES["q_dedup_recall"](spark, SF_SMALL).collect()
    }
    n_docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
    n_exact = sum(1 for d in range(n_docs) if d % 10 == 0)
    n_near = sum(1 for d in range(n_docs) if d % 10 == 5)
    assert "exact_missed" not in rows
    assert rows["exact_detected"] == n_exact
    assert rows["near_detected"] + rows.get("near_missed", 0) == n_near
    assert rows["near_detected"] >= 0.9 * n_near  # recall floor


def test_drift_psi_nonnegative_and_bounded(spark):
    """PSI is a sum of (p-q)ln(p/q) terms, each ≥ 0 — negative PSI means
    the term algebra broke; the IID fixture's halves should also sit far
    below the 0.2 'drift' convention."""
    rows = registry.QUERIES["q_drift_psi"](spark, SF_SMALL).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["psi"] >= 0, r
        assert r["psi"] < 0.2, r  # IID fixture: no real drift
        assert r["n_first"] + r["n_second"] > 0


def test_knn_pq_top_hit_is_planted_copy(spark):
    """PQ quality floor: the probe's planted +0.05 twin (vec_id 1000000)
    quantizes to the probe's own codes, so its ADC distance is exactly the
    probe's quantization residual — nothing can rank above it."""
    rows = registry.QUERIES["q_knn_pq"](spark, SF_SMALL).collect()
    assert rows[0]["vec_id"] == 1000000
    assert rows[0]["approx_d"] <= rows[-1]["approx_d"]
