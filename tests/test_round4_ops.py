"""Semantic pins for the round-4 operators at sf0.001 — the differential
harness is the primary gate; these pin the *claims* each op is built on:
ExactSubstr spans are position-maximal and cover the planted copies,
containment catches the excerpt case Jaccard misses, ANN recall is a
true subset ratio, silhouette is bounded, the triangle count matches an
independent brute-force spelling, and winnowing honors its density and
every-window-has-a-selection guarantees."""

from proxyhouse_spark import registry
from tests.conftest import SF_SMALL


def test_substring_spans_cover_exact_copies_and_are_maximal(spark):
    from proxyhouse_spark.operators.dedup import SUBSTR_K

    rows = registry.QUERIES["q_substring_dedup"](spark, SF_SMALL).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
        # span arithmetic: width == n_dup_tokens, never below K
        assert r.span_end - r.span_start + 1 == r.n_dup_tokens
        assert r.n_dup_tokens >= SUBSTR_K
    # every injected exact copy (doc_id % 10 == 0 → +1e6) duplicates its
    # ENTIRE token stream, so both members carry a span starting at token 1
    for d in range(0, 500, 10):
        for member in (d, d + 1_000_000):
            spans = by_doc.get(member, [])
            assert spans, f"no span for exact-copy member {member}"
            assert any(s.span_start == 1 for s in spans), member
    # position-maximality: islands merge CONSECUTIVE duplicated gram
    # positions, so two spans of one doc are separated by at least one
    # non-duplicated position (spans may still overlap in TOKEN space —
    # a span's last K-1 tokens extend past its last gram position)
    for doc, spans in by_doc.items():
        spans = sorted(spans, key=lambda s: s.span_start)
        for a, b in zip(spans, spans[1:]):
            a_last_pos = a.span_end - SUBSTR_K + 1
            assert b.span_start > a_last_pos + 1, (doc, a, b)


def test_containment_catches_what_jaccard_misses(spark):
    rows = registry.QUERIES["q_containment_dedup"](spark, SF_SMALL).collect()
    exc = [r for r in rows if max(r.doc_a, r.doc_b) >= 3_000_000
           and min(r.doc_a, r.doc_b) < 1_000_000]
    assert exc, "no excerpt pairs found"
    # the excerpt's shingles are a subset of its source doc's → the
    # containment of the smaller side is exactly 1.0, while plain Jaccard
    # sits far below every near-dup threshold used by the minhash family
    low_jac = [r for r in exc if r.jaccard < 0.5]
    assert low_jac, "excerpt pairs unexpectedly all Jaccard-high"
    for r in low_jac:
        assert max(r.containment_a_in_b, r.containment_b_in_a) == 1.0


def test_ann_recall_is_a_valid_ratio_and_never_all_zero(spark):
    from proxyhouse_spark.operators.similarity import RECALL_K

    rows = registry.QUERIES["q_ann_recall"](spark, SF_SMALL).collect()
    assert len(rows) == 5  # N_PROBES
    for r in rows:
        assert r.n_exact == RECALL_K
        assert 0 <= r.n_hit <= min(r.n_retrieved, RECALL_K)
        assert abs(r.recall_at_k - r.n_hit / RECALL_K) < 1e-9
    # probe 0's planted twin (cos ≈ 0.999) agrees with it on every
    # hyperplane sign, so bucket-restricted search keeps SOME of the true
    # top-k — recall is never zero across the board
    assert any(r.n_hit > 0 for r in rows)


def test_silhouette_bounded_and_members_total(spark):
    rows = registry.QUERIES["q_silhouette"](spark, SF_SMALL).collect()
    assert len(rows) == 16  # K clusters
    total = sum(r.n_members for r in rows)
    n_corpus = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").count()
    assert total == n_corpus  # every vector assigned exactly once
    for r in rows:
        assert -1.0 <= r.min_silhouette <= r.avg_silhouette <= 1.0


def test_triangles_matches_brute_force_on_fixture(spark):
    """Degree orientation must count each triangle exactly once: check
    against an independent brute-force spelling (each triangle appears as
    6 ordered closed walks over the symmetric edge relation)."""
    r = registry.QUERIES["q_triangles"](spark, SF_SMALL).collect()[0]
    from proxyhouse_spark.tables import table

    table(spark, SF_SMALL, "lineitem").createOrReplaceTempView("lineitem")
    brute = spark.sql(
        """
        WITH items AS (SELECT DISTINCT l_orderkey AS okey, l_partkey AS part
                       FROM lineitem),
        und AS (SELECT DISTINCT a.part AS u, b.part AS v
                FROM items a JOIN items b
                  ON a.okey = b.okey AND a.part <> b.part),
        t AS (SELECT count(*) AS n6
              FROM und e1 JOIN und e2 ON e2.u = e1.v
              JOIN und e3 ON e3.u = e2.v AND e3.v = e1.u
              WHERE e1.u < e1.v AND e2.v <> e1.u)
        SELECT CAST(n6 / 3 AS BIGINT) AS n FROM t
        """
    ).collect()[0].n
    assert r.n_triangles == brute
    assert 0.0 <= r.clustering_coeff <= 1.0
    assert r.n_wedges >= 3 * r.n_triangles  # closed wedges ⊆ wedges


def test_winnow_density_and_window_coverage_guarantee(spark):
    from proxyhouse_spark.operators.textops import (
        WINNOW_K,
        WINNOW_W,
        _winnow_body,
    )

    rows = registry.QUERIES["q_winnow"](spark, SF_SMALL).collect()
    assert len(rows) == 500
    for r in rows:
        assert 0 < r.n_fp <= r.n_grams
    # expected density 2/(w+1) = 40% at w=4; generous slack for the
    # fixture's tiny vocabulary (repeated grams collapse under DISTINCT)
    mean_bp = sum(r.density_bp for r in rows) / len(rows)
    assert 2500 <= mean_bp <= 5500, mean_bp
    # the winnowing guarantee reduced to its local form: EVERY window of w
    # consecutive gram positions contains at least one selected position —
    # which is what makes any shared run of >= w + k − 1 tokens between two
    # documents share a fingerprint. Checked exhaustively on 20 docs via
    # the op's own selection CTE (exposed as _winnow_body, no string
    # surgery over the summary SQL).
    spark.sql(
        "WITH " + _winnow_body(duck=False) + " SELECT doc_id, fp_pos FROM sel"
    ).createOrReplaceTempView("winnow_sel")
    selected = {}
    for r in spark.table("winnow_sel").filter("doc_id < 20").collect():
        selected.setdefault(r.doc_id, set()).add(r.fp_pos)
    windows = spark.sql(
        f"""
        WITH tk AS (SELECT doc_id, split(text, ' ', -1) AS toks
                    FROM documents WHERE doc_id < 20),
        g AS (SELECT doc_id, i AS p
              FROM tk LATERAL VIEW explode(
                sequence(1, size(toks) - {WINNOW_K - 1})) t AS i)
        SELECT doc_id, p AS wend FROM g WHERE p >= {WINNOW_W}
        """
    ).collect()
    assert windows
    for r in windows:
        win = set(range(r.wend - WINNOW_W + 1, r.wend + 1))
        assert selected.get(r.doc_id, set()) & win, (r.doc_id, r.wend)


def test_kcore_matches_brute_force_peel(spark):
    rows = registry.QUERIES["q_kcore"](spark, SF_SMALL).collect()
    assert [r.round for r in rows] == [0, 1, 2, 3]
    # peeling is monotone: nothing ever comes back
    for a, b in zip(rows, rows[1:]):
        assert b.nodes_kept <= a.nodes_kept
        assert b.edges_kept <= a.edges_kept
        assert b.k == a.k
    assert rows[0].k >= 1
    # independent brute-force peel in plain Python over the same graph
    edges = {
        (r.u, r.v)
        for r in spark.sql(
            """
            WITH items AS (SELECT DISTINCT l_orderkey AS okey,
                                  l_partkey AS part FROM lineitem)
            SELECT DISTINCT a.part AS u, b.part AS v
            FROM items a JOIN items b
              ON a.okey = b.okey AND a.part < b.part
            """
        ).collect()
    }
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    k = (sum(deg.values()) * 4) // (len(deg) * 5)
    assert rows[0].k == k
    assert rows[0].nodes_kept == len(deg)
    assert rows[0].edges_kept == len(edges)
    for rnd in (1, 2, 3):
        keep = {n for n, d in deg.items() if d >= k}
        edges = {(u, v) for u, v in edges if u in keep and v in keep}
        deg = {}
        for u, v in edges:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        assert rows[rnd].nodes_kept == len(deg), rnd
        assert rows[rnd].edges_kept == len(edges), rnd


def test_cooccur_pmi_counts_and_independence_baseline(spark):
    rows = registry.QUERIES["q_cooccur_pmi"](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    import math

    n_docs = spark.sql(
        "SELECT count(DISTINCT doc_id) AS n FROM documents"
    ).collect()[0].n
    # brute-force presence sets for the pair members
    toks = {}
    for r in spark.sql(
        "SELECT doc_id, split(text, ' ', -1) AS t FROM documents"
    ).collect():
        for tok in set(r.t):
            toks.setdefault(tok, set()).add(r.doc_id)
    for r in rows:
        a, b = toks[r.tok_a], toks[r.tok_b]
        assert r.n_a == len(a) and r.n_b == len(b)
        assert r.n_ab == len(a & b)
        assert r.n_ab <= min(r.n_a, r.n_b)
        expect = round(math.log10(r.n_ab * n_docs / (r.n_a * r.n_b)), 6)
        assert float(r.pmi) == expect, (r, expect)
    # output is sorted by the deterministic (pmi DESC, tok_a, tok_b) key
    keys = [(-float(r.pmi), r.tok_a, r.tok_b) for r in rows]
    assert keys == sorted(keys)


def test_label_leakage_matches_scipy_free_chi_square(spark):
    rows = registry.QUERIES["q_label_leakage"](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 15
    docs = spark.sql("SELECT doc_id, lang, split(text, ' ', -1) AS t "
                     "FROM documents").collect()
    n_docs = len(docs)
    langs = {}
    present = {}
    n_tok = {}
    for d in docs:
        langs[d.lang] = langs.get(d.lang, 0) + 1
        for tok in set(d.t):
            n_tok[tok] = n_tok.get(tok, 0) + 1
            key = (tok, d.lang)
            present[key] = present.get(key, 0) + 1
    for r in rows:
        assert r.n_tok == n_tok[r.tok]
        chi2 = 0.0
        for lang, n_lang in langs.items():
            o1 = present.get((r.tok, lang), 0)
            e1 = r.n_tok * n_lang / n_docs
            cell = (o1 - e1) ** 2 / e1
            if r.n_tok != n_docs:
                e0 = (n_docs - r.n_tok) * n_lang / n_docs
                cell += ((n_lang - o1) - e0) ** 2 / e0
            chi2 += round(cell, 6)
        assert abs(float(r.chi2) - chi2) < 1e-6, (r.tok, r.chi2, chi2)
    # the report is a true top-k: sorted by (chi2 DESC, tok)
    keys = [(-float(r.chi2), r.tok) for r in rows]
    assert keys == sorted(keys)


def test_stream_kmeans_fence_and_additive_carrier(spark, tmp_path):
    """The sufficient-stats carrier is additive integer vector sums:
    same-batch-id replay must be fenced to a no-op, a new batch id must
    fold in exactly, and the merged stats must equal a one-shot
    assignment of the union (batch boundaries invisible)."""
    from proxyhouse_spark.operators.clustering import K, _merge_kmeans
    from proxyhouse_spark.tables import table

    table(spark, SF_SMALL, "embeddings").createOrReplaceTempView("embeddings")
    corpus = spark.sql(
        "SELECT vec_id, CAST(embedding AS ARRAY<DOUBLE>) AS e FROM embeddings"
    )
    cent = str(tmp_path / "quantizer")
    snap = str(tmp_path / "partials")
    corpus.filter(f"vec_id < {K}").selectExpr(
        "CAST(vec_id AS INT) AS c", "e AS ce"
    ).write.parquet(cent)
    half_a = corpus.filter("vec_id % 2 = 0")
    half_b = corpus.filter("vec_id % 2 = 1")
    _merge_kmeans(half_a, cent, snap, 0)
    n_after_first = (
        spark.read.parquet(snap).groupBy().sum("n").collect()[0][0]
    )
    _merge_kmeans(half_a, cent, snap, 0)  # replay of a committed batch
    assert (
        spark.read.parquet(snap).groupBy().sum("n").collect()[0][0]
        == n_after_first
    ), "fenced replay must not append partials"
    _merge_kmeans(half_b, cent, snap, 1)
    merged = {
        (r.c, r.pos): (r.n, r.s)
        for r in spark.read.parquet(snap)
        .groupBy("c", "pos")
        .agg({"n": "sum", "s": "sum"})
        .withColumnRenamed("sum(n)", "n")
        .withColumnRenamed("sum(s)", "s")
        .collect()
    }
    # one-shot assignment of the union must equal the merged carrier
    oneshot_dir = str(tmp_path / "oneshot")
    _merge_kmeans(corpus, cent, oneshot_dir, 0)
    oneshot = {
        (r.c, r.pos): (r.n, r.s)
        for r in spark.read.parquet(oneshot_dir).collect()
    }
    assert merged == oneshot


def test_asof_tolerance_window_semantics(spark):
    from proxyhouse_spark.operators.relational import ASOF_TOL_SECS

    from proxyhouse_spark.tables import table

    rows = registry.QUERIES["q_join_asof_tolerance"](spark, SF_SMALL).collect()
    events = table(spark, SF_SMALL, "events").select(
        "event_id", "user_id", "ts", "event_type"
    ).collect()
    clicks = {}
    purchases = {}
    for e in events:
        if e.event_type == "click":
            clicks.setdefault(e.user_id, []).append(e)
        elif e.event_type == "purchase":
            purchases[e.event_id] = e
    assert len(rows) == len(purchases)  # LEFT semantics: every purchase
    matched = unmatched = 0
    for r in rows:
        p = purchases[r.purchase_id]
        eligible = [
            c for c in clicks.get(p.user_id, [])
            if c.ts <= p.ts
            and (p.ts - c.ts).total_seconds() <= ASOF_TOL_SECS
        ]
        if r.click_id is None:
            unmatched += 1
            assert not eligible, (r.purchase_id, "should have matched")
        else:
            matched += 1
            best = max(eligible, key=lambda c: (c.ts, c.event_id))
            assert r.click_id == best.event_id
            assert r.gap_secs == int(
                (p.ts - best.ts).total_seconds()
            ), r
    assert matched and unmatched, "tolerance must split the fixture"


def test_dp_counts_noise_bound_and_utility(spark):
    """The seeded Laplace release: |released - true| is bounded by the
    mechanism's worst draw (|noise| <= ln(10^6) ~ 13.8 at b=1), the
    clamp keeps the release non-negative, and at least one cell is
    actually perturbed (the mechanism is not the identity)."""
    rows = registry.QUERIES["q_dp_counts"](spark, SF_SMALL).collect()
    true = {
        (r.lang, r.source): r.n
        for r in spark.sql(
            "SELECT lang, source, count(*) AS n FROM documents "
            "GROUP BY lang, source"
        ).collect()
    }
    assert {(r.lang, r.source) for r in rows} == set(true)
    perturbed = 0
    for r in rows:
        assert r.released_n >= 0
        assert r.epsilon == 1.0
        err = abs(r.released_n - true[(r.lang, r.source)])
        assert err <= 15, (r, true[(r.lang, r.source)])
        perturbed += err > 0
    assert perturbed > 0


def test_bigram_logprob_is_out_of_fold_add_one(spark):
    import math

    from proxyhouse_spark.operators.retrieval import EVAL_MOD

    rows = registry.QUERIES["q_bigram_logprob"](spark, SF_SMALL).collect()
    docs = spark.sql(
        "SELECT doc_id, split(text, ' ', -1) AS t FROM documents"
    ).collect()
    tr12, tr1, vocab = {}, {}, set()
    eval_docs = {}
    for d in docs:
        bgs = list(zip(d.t, d.t[1:]))
        if d.doc_id % EVAL_MOD == 0:
            eval_docs[d.doc_id] = bgs
        else:
            # vocab as the op's vv counts it: tokens PARTICIPATING in
            # train bigrams (w1 or w2) — a 1-token train doc contributes
            # no bigram and so no vocab entry
            for a, b in bgs:
                vocab.add(a)
                vocab.add(b)
            for a, b in bgs:
                tr12[(a, b)] = tr12.get((a, b), 0) + 1
                tr1[a] = tr1.get(a, 0) + 1
    v = len(vocab)
    assert {r.doc_id for r in rows} == set(eval_docs)
    for r in rows:
        bgs = eval_docs[r.doc_id]
        assert r.n_bigrams == len(bgs)
        sum_lp = sum(
            round(
                math.log10((tr12.get(bg, 0) + 1.0) / (tr1.get(bg[0], 0) + v)),
                6,
            )
            for bg in bgs
        )
        mean = round(sum_lp / len(bgs), 4)
        assert abs(r.mean_lp - mean) < 1e-9, (r.doc_id, r.mean_lp, mean)
        assert r.mean_lp < 0
        assert abs(r.perplexity - round(10.0 ** -mean, 4)) < 1e-9


def test_assortativity_matches_numpy_free_pearson(spark):
    r = registry.QUERIES["q_assortativity"](spark, SF_SMALL).collect()[0]
    edges = {
        (e.u, e.v)
        for e in spark.sql(
            """
            WITH items AS (SELECT DISTINCT l_orderkey AS okey,
                                  l_partkey AS part FROM lineitem)
            SELECT DISTINCT a.part AS u, b.part AS v
            FROM items a JOIN items b
              ON a.okey = b.okey AND a.part < b.part
            """
        ).collect()
    }
    deg = {}
    for u, v in edges:
        deg[u] = deg.get(u, 0) + 1
        deg[v] = deg.get(v, 0) + 1
    assert r.n_nodes == len(deg) and r.n_edges == len(edges)
    assert r.min_degree == min(deg.values())
    assert r.max_degree == max(deg.values())
    xs = [deg[u] for u, v in edges] + [deg[v] for u, v in edges]
    ys = [deg[v] for u, v in edges] + [deg[u] for u, v in edges]
    n = len(xs)
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    syy = sum(y * y for y in ys)
    expect = round(
        (n * sxy - sx * sy)
        / ((n * sxx - sx * sx) * (n * syy - sy * sy)) ** 0.5,
        6,
    )
    assert abs(r.assortativity - expect) < 1e-9
    assert -1.0 <= r.assortativity <= 1.0


def test_bpe_apply_segmentation_invariants(spark):
    """The one-generation encode's claims: segmentation reconstructs the
    word exactly, merges genuinely compress, every symbol is either a
    single char or one of the learned merge pairs, and the 4-pass
    replace has reached its fixpoint (a 5th pass is a no-op)."""
    from proxyhouse_spark.operators.packing import N_MERGES

    rows = registry.QUERIES["q_bpe_apply"](spark, SF_SMALL).collect()
    assert len(rows) == 20
    merges = {
        r.pair
        for r in spark.sql(
            f"""
            WITH w AS (SELECT explode(split(text, ' ', -1)) AS word
                       FROM documents),
            wc AS (SELECT word, count(*) AS wcount FROM w GROUP BY word),
            p AS (SELECT substr(word, i, 2) AS pair, wcount FROM wc
                  LATERAL VIEW explode(sequence(1, length(word) - 1)) t AS i
                  WHERE length(word) >= 2)
            SELECT pair FROM (SELECT pair, sum(wcount) AS n FROM p
                              GROUP BY pair)
            ORDER BY n DESC, pair LIMIT {N_MERGES}
            """
        ).collect()
    }
    compressed = 0
    for r in rows:
        syms = r.segmented.split(" ")
        assert "".join(syms) == r.word, r
        assert len(syms) == r.n_syms
        assert r.n_chars == len(r.word)
        for s in syms:
            assert len(s) == 1 or s in merges, (r.word, s)
        compressed += r.n_syms < r.n_chars
        # fixpoint: no adjacent symbol pair still concatenates to a merge
        # whose parts are both single chars (a missed legal merge)
        for a, b in zip(syms, syms[1:]):
            if len(a) == 1 and len(b) == 1:
                assert a + b not in merges, (r.word, a, b)
    assert compressed > 0


def test_bfs_hops_matches_brute_force_traversal(spark):
    rows = registry.QUERIES["q_bfs_hops"](spark, SF_SMALL).collect()
    assert [r.hop for r in rows] == [0, 1, 2, 3]
    assert rows[0].frontier == 1 and rows[0].visited == 1
    # visited is the cumulative union of frontiers
    for a, b in zip(rows, rows[1:]):
        assert b.visited == a.visited + b.frontier
    # brute-force BFS from the same deterministic source
    adj = {}
    for e in spark.sql(
        """
        WITH items AS (SELECT DISTINCT l_orderkey AS okey,
                              l_partkey AS part FROM lineitem)
        SELECT DISTINCT a.part AS u, b.part AS v
        FROM items a JOIN items b
          ON a.okey = b.okey AND a.part < b.part
        """
    ).collect():
        adj.setdefault(e.u, set()).add(e.v)
        adj.setdefault(e.v, set()).add(e.u)
    src = min(adj, key=lambda n: (-len(adj[n]), n))
    frontier, visited = {src}, {src}
    for r in rows[1:]:
        frontier = {m for n in frontier for m in adj[n]} - visited
        visited |= frontier
        assert r.frontier == len(frontier), r.hop
        assert r.visited == len(visited), r.hop


def test_ab_test_statistics_match_textbook_formulas(spark):
    import hashlib
    import math

    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_ab_test"](spark, SF_SMALL).collect()[0]
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "event_type"
    ).collect()
    np_by_user = {}
    for e in events:
        np_by_user.setdefault(e.user_id, 0)
        if e.event_type == "purchase":
            np_by_user[e.user_id] += 1
    nu, tp = len(np_by_user), sum(np_by_user.values())
    counts = {"A": [0, 0], "B": [0, 0]}
    for uid, np_ in np_by_user.items():
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
        v = "A" if h % 2 == 0 else "B"
        counts[v][0] += 1
        counts[v][1] += np_ * nu > tp
    (n_a, conv_a), (n_b, conv_b) = counts["A"], counts["B"]
    assert (r.n_a, r.conv_a, r.n_b, r.conv_b) == (n_a, conv_a, n_b, conv_b)
    assert n_a + n_b == nu and 0 < conv_a + conv_b < nu
    p = (conv_a + conv_b) / (n_a + n_b)
    z = (conv_a / n_a - conv_b / n_b) / math.sqrt(
        p * (1 - p) * (1 / n_a + 1 / n_b)
    )
    assert abs(r.z_score - round(z, 6)) < 1e-9
    half = (n_a + n_b) / 2
    chi2 = (n_a - half) ** 2 / half + (n_b - half) ** 2 / half
    assert abs(r.srm_chi2 - round(chi2, 6)) < 1e-9
    # md5-parity assignment should be far from SRM alarm (chi2 < 3.84)
    assert r.srm_chi2 < 3.84


def test_cuped_reduces_variance_and_matches_formulas(spark):
    import hashlib

    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_cuped"](spark, SF_SMALL).collect()[0]
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    ts_all = [e.ts for e in events]
    import datetime as _dt

    epoch = _dt.datetime(1970, 1, 1)
    micros = [int((t - epoch).total_seconds() * 1_000_000) for t in ts_all]
    mid = (min(micros) + max(micros)) // 2
    per_user = {}
    for e, m in zip(events, micros):
        x, y = per_user.setdefault(e.user_id, [0, 0])
        if e.event_type == "purchase":
            if m <= mid:
                per_user[e.user_id][0] += 1
            else:
                per_user[e.user_id][1] += 1
    n = len(per_user)
    xs = [v[0] for v in per_user.values()]
    ys = [v[1] for v in per_user.values()]
    sx, sy = sum(xs), sum(ys)
    sxx = sum(x * x for x in xs)
    sxy = sum(x * y for x, y in zip(xs, ys))
    syy = sum(y * y for y in ys)
    theta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    var_y = (n * syy - sy * sy) / (n * n)
    cov = (n * sxy - sx * sy) / (n * n)
    assert abs(r.theta - round(theta, 6)) < 1e-9
    assert abs(r.var_reduction - round(1 - (var_y - theta * cov) / var_y, 6)) < 1e-9
    # CUPED's whole point: adjusted variance is never larger, and with a
    # real pre/post correlation it is strictly smaller here
    assert 0 < r.var_reduction < 1
    # |z| should not shrink: same diff scale, smaller variance
    groups = {}
    for uid, (x, y) in per_user.items():
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
        groups.setdefault("A" if h % 2 == 0 else "B", []).append(uid)
    assert r.n_a == len(groups["A"]) and r.n_b == len(groups["B"])


def test_seasonal_anomaly_z_is_against_own_slot(spark):
    import datetime as _dt
    import math

    from proxyhouse_spark.tables import table

    rows = registry.QUERIES["q_seasonal_anomaly"](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 20
    events = table(spark, SF_SMALL, "events").select(
        "event_id", "ts", "value"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    slots = {}
    by_id = {}
    for e in events:
        us = int((e.ts - epoch).total_seconds() * 1_000_000)
        key = ((us // 86400000000 + 4) % 7, (us // 3600000000) % 24)
        vu = round(e.value * 1_000)
        slots.setdefault(key, []).append(vu)
        by_id[e.event_id] = (key, vu)
    for r in rows:
        key, vu = by_id[r.event_id]
        assert key == (r.dow, r.hod)
        vs = slots[key]
        n, sv = len(vs), sum(vs)
        svv = sum(v * v for v in vs)
        mean = sv / n
        sd = math.sqrt((svv - sv * sv / n) / (n - 1))
        assert abs(r.z_score - round((vu - mean) / sd, 6)) < 1e-9
        assert abs(r.slot_mean - round(mean / 1e3, 6)) < 1e-9
    # the report is a true top-k by |z|
    zs = [abs(r.z_score) for r in rows]
    assert zs == sorted(zs, reverse=True)


def test_welch_metric_matches_textbook_formulas(spark):
    import hashlib
    import math

    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_welch_metric"](spark, SF_SMALL).collect()[0]
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "value"
    ).collect()
    per_user = {}
    for e in events:
        s, n = per_user.setdefault(e.user_id, [0, 0])
        per_user[e.user_id][0] += round(e.value * 1000)
        per_user[e.user_id][1] += 1
    groups = {"A": [], "B": []}
    for uid, (s, n) in per_user.items():
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
        groups["A" if h % 2 == 0 else "B"].append(s // n)
    ma, mb = groups["A"], groups["B"]
    assert (r.n_a, r.n_b) == (len(ma), len(mb))
    assert abs(r.mean_a - round(sum(ma) / len(ma) / 1000, 6)) < 1e-9
    assert abs(r.mean_b - round(sum(mb) / len(mb) / 1000, 6)) < 1e-9

    def var(xs):
        n, s = len(xs), sum(xs)
        return (sum(x * x for x in xs) - s * s / n) / (n - 1)

    va, vb = var(ma), var(mb)
    sem2 = va / len(ma) + vb / len(mb)
    t = (sum(ma) / len(ma) - sum(mb) / len(mb)) / math.sqrt(sem2)
    dof = sem2 * sem2 / (
        va * va / (len(ma) ** 2) / (len(ma) - 1)
        + vb * vb / (len(mb) ** 2) / (len(mb) - 1)
    )
    assert abs(r.t_welch - round(t, 6)) < 1e-9
    assert abs(r.dof_ws - round(dof, 6)) < 1e-9
    # Welch-Satterthwaite dof is bounded by min-1 and n_a+n_b-2
    assert min(len(ma), len(mb)) - 1 <= r.dof_ws <= len(ma) + len(mb) - 2


def test_bootstrap_ci_is_deterministic_poisson(spark):
    import hashlib

    from proxyhouse_spark.operators.behavior import BOOT_R, _POIS_CDF
    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_bootstrap_ci"](spark, SF_SMALL).collect()[0]
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "value"
    ).collect()
    tot = {}
    for e in events:
        tot[e.user_id] = tot.get(e.user_id, 0) + round(e.value * 1000)
    cdf = [float(c) for c in _POIS_CDF]
    means = []
    for rep in range(BOOT_R):
        num = den = 0
        for uid, t in tot.items():
            h = int(
                hashlib.md5(f"{uid}:{rep}".encode()).hexdigest()[:12], 16
            )
            u = ((h % 1000000) + 0.5) / 1000000.0
            wt = next((k for k, c in enumerate(cdf) if u < c), 7)
            num += wt * t
            den += wt
        means.append(round(num / den / 1000.0, 6))
    means.sort()

    def q(p):  # linear interpolation, the percentile/quantile_cont contract
        pos = p * (len(means) - 1)
        lo = int(pos)
        frac = pos - lo
        hi = min(lo + 1, len(means) - 1)
        return means[lo] + frac * (means[hi] - means[lo])

    assert r.n_replicates == BOOT_R
    assert abs(r.mean_obs - round(sum(tot.values()) / len(tot) / 1000.0, 6)) < 1e-9
    assert abs(r.ci_lo - round(q(0.025), 6)) < 1e-9
    assert abs(r.ci_hi - round(q(0.975), 6)) < 1e-9
    assert r.ci_lo < r.ci_hi
    assert r.ci_lo <= r.mean_obs <= r.ci_hi


def test_mannwhitney_matches_scipy_free_midranks(spark):
    import hashlib
    import math

    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_mannwhitney"](spark, SF_SMALL).collect()[0]
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "value"
    ).collect()
    per_user = {}
    for e in events:
        s = per_user.setdefault(e.user_id, [0, 0])
        s[0] += round(e.value * 1000)
        s[1] += 1
    a, b = [], []
    for uid, (s, n) in per_user.items():
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
        (a if h % 2 == 0 else b).append(s // n)
    assert (r.n_a, r.n_b) == (len(a), len(b))
    # brute-force U with half-credit for ties
    u = sum(
        (1.0 if x > y else 0.5 if x == y else 0.0) for x in a for y in b
    )
    assert float(r.u_a) == u
    # tie-corrected normal approximation
    n, na, nb = len(a) + len(b), len(a), len(b)
    from collections import Counter

    ties = Counter(a + b)
    tie3 = sum(t**3 - t for t in ties.values())
    mu = na * nb / 2
    sigma = math.sqrt(
        na * nb / 12 * ((n + 1) - tie3 / (n * (n - 1)))
    )
    assert abs(r.z_normal - round((u - mu) / sigma, 6)) < 1e-9


def test_ks_test_matches_brute_force_cdf_sup(spark):
    import hashlib
    import math

    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_ks_test"](spark, SF_SMALL).collect()[0]
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "value"
    ).collect()
    per_user = {}
    for e in events:
        s = per_user.setdefault(e.user_id, [0, 0])
        s[0] += round(e.value * 1000)
        s[1] += 1
    a, b = [], []
    for uid, (s, n) in per_user.items():
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
        (a if h % 2 == 0 else b).append(s // n)
    assert (r.n_a, r.n_b) == (len(a), len(b))
    # brute-force sup over all observed values, in exact integers
    vals = sorted(set(a) | set(b))
    dnum = max(
        abs(
            sum(1 for x in a if x <= v) * len(b)
            - sum(1 for x in b if x <= v) * len(a)
        )
        for v in vals
    )
    d = dnum / (len(a) * len(b))
    assert abs(r.ks_d - round(d, 6)) < 1e-9
    assert abs(
        r.ks_stat
        - round(d * math.sqrt(len(a) * len(b) / (len(a) + len(b))), 6)
    ) < 1e-9
    assert 0.0 <= r.ks_d <= 1.0


def test_kaplan_meier_matches_brute_force_product_limit(spark):
    from proxyhouse_spark.operators.behavior import KM_WINDOW_DAYS
    from proxyhouse_spark.tables import table

    rows = {
        r.t_days: r
        for r in registry.QUERIES["q_kaplan_meier"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "ts", "event_type"
    ).collect()
    import datetime as _dt

    epoch = _dt.datetime(1970, 1, 1)
    per_user = {}
    for e in events:
        us = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        s = per_user.setdefault(e.user_id, [us, us, None])
        s[0] = min(s[0], us)
        s[1] = max(s[1], us)
        if e.event_type == "purchase":
            s[2] = us if s[2] is None else min(s[2], us)
    subjects = []  # (t, is_event)
    for d0, dlast, dp in per_user.values():
        if dp is not None and dp - d0 <= KM_WINDOW_DAYS:
            subjects.append((dp - d0, True))
        else:
            subjects.append((min(KM_WINDOW_DAYS, dlast - d0), False))
    # hand-rolled product-limit: events-before-censorings at each time
    s, at_risk = 1.0, len(subjects)
    expect = {}
    for t in sorted({t for t, _ in subjects}):
        d = sum(1 for tt, ev in subjects if tt == t and ev)
        c = sum(1 for tt, ev in subjects if tt == t and not ev)
        if d:
            s *= (at_risk - d) / at_risk
            expect[t] = (at_risk, d, round(s, 6))
        at_risk -= d + c
    assert set(rows) == set(expect)
    for t, (n_risk, d, surv) in expect.items():
        r = rows[t]
        assert (r.n_risk, r.n_events) == (n_risk, d)
        assert abs(r.survival - surv) < 1e-9
    # censoring must actually bite on the fixture: at-risk shrinks by more
    # than the event count somewhere, or the last step survival stays > 0
    assert any(not ev for _, ev in subjects)


def test_autocorr_matches_dense_series_brute_force(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        (r.event_type, r.lag): r
        for r in registry.QUERIES["q_autocorr"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "event_type", "ts", "value"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    daily = {}
    for e in events:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        key = (e.event_type, d)
        daily[key] = daily.get(key, 0) + round(e.value * 1000)
    types = {t for t, _ in daily}
    for t in types:
        days = {d for tt, d in daily if tt == t}
        lo, hi = min(days), max(days)
        xs = [daily.get((t, d), 0) for d in range(lo, hi + 1)]
        n = len(xs)
        mean = sum(xs) / n
        den = sum((x - mean) ** 2 for x in xs)
        for k in (1, 7):
            r = out[(t, k)]
            assert r.n_days == n
            num = sum(
                (xs[i] - mean) * (xs[i + k] - mean) for i in range(n - k)
            )
            assert abs(r.acf - round(num / den, 6)) < 1e-6
            assert -1.0 <= r.acf <= 1.0
    assert len(out) == 2 * len(types)


def test_cusum_matches_dense_bridge_brute_force(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        r.event_type: r
        for r in registry.QUERIES["q_cusum"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "event_type", "ts"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    daily = {}
    for e in events:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        key = (e.event_type, d)
        daily[key] = daily.get(key, 0) + 1
    for t in {tt for tt, _ in daily}:
        days = {d for tt, d in daily if tt == t}
        lo, hi = min(days), max(days)
        xs = [daily.get((t, d), 0) for d in range(lo, hi + 1)]
        n, s_n = len(xs), sum(xs)
        # brute force over EVERY dense k, not just observed-day candidates
        best_v, best_k, cum = -1, None, 0
        for k in range(1, n):
            cum += xs[k - 1]
            v = abs(n * cum - k * s_n)
            if v > best_v:
                best_v, best_k = v, k
        r = out[t]
        assert (r.n_days, r.cp_k) == (n, best_k)
        assert r.cp_day == lo + best_k - 1
        assert abs(r.cusum_rel - round(best_v / (n * s_n), 6)) < 1e-9
        assert 0.0 <= r.cusum_rel <= 1.0
    assert len(out) == len({tt for tt, _ in daily})


def test_benford_shares_sum_and_brute_force_digits(spark):
    import math

    from proxyhouse_spark.tables import table

    rows = {
        r.digit: r
        for r in registry.QUERIES["q_benford"](spark, SF_SMALL).collect()
    }
    assert set(rows) == set(range(1, 10))
    prices = [
        r.o_totalprice
        for r in table(spark, SF_SMALL, "orders").select(
            "o_totalprice"
        ).collect()
        if r.o_totalprice > 0
    ]
    counts = {d: 0 for d in range(1, 10)}
    for p in prices:
        counts[int(str(round(p * 100))[0])] += 1
    n = sum(counts.values())
    chi2 = 0.0
    for d in range(1, 10):
        r = rows[d]
        assert r.n_obs == counts[d]
        assert abs(r.obs_share - round(counts[d] / n, 6)) < 1e-9
        exp = math.log10(1 + 1 / d)
        assert abs(r.benford_share - round(exp, 6)) < 1e-9
        assert abs(
            r.chi2_term - round((counts[d] / n - exp) ** 2 / exp * n, 6)
        ) < 1e-6
        chi2 += r.chi2_term
    # Benford shares are a distribution; observed shares must be too
    assert abs(sum(r.obs_share for r in rows.values()) - 1.0) < 1e-4
    assert chi2 >= 0.0


def test_gini_matches_sorted_rank_brute_force(spark):
    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_gini"](spark, SF_SMALL).collect()[0]
    docs = table(spark, SF_SMALL, "documents").select(
        "source", "n_chars"
    ).collect()
    mass = {}
    for d in docs:
        mass[d.source] = mass.get(d.source, 0) + d.n_chars
    xs = sorted(mass.values())
    m, s = len(xs), sum(xs)
    assert (r.n_sources, r.total_chars) == (m, s)
    six = sum((i + 1) * x for i, x in enumerate(xs))
    gini = (2 * six - (m + 1) * s) / (m * s)
    assert abs(r.gini - round(gini, 6)) < 1e-9
    assert abs(r.top1_share - round(max(xs) / s, 6)) < 1e-9
    assert 0.0 <= r.gini < 1.0
    # rank-tie exactness: duplicate masses must use consecutive-rank sums,
    # which the sorted brute force above produces by construction; also
    # sanity that the fixture is non-degenerate (not all masses equal)
    assert len(set(xs)) > 1


def test_bloom_join_digest_is_bounded_superset_filter(spark):
    from pyspark.sql import functions as F

    from proxyhouse_spark.operators.relational import BLOOM_M
    from proxyhouse_spark.tables import table

    lineitem = table(spark, SF_SMALL, "lineitem")
    orders = table(spark, SF_SMALL, "orders")
    customer = table(spark, SF_SMALL, "customer")
    build = orders.join(
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey"),
        orders.o_custkey == F.col("c_custkey"),
        "left_semi",
    ).select("o_orderkey")
    digest = build.select(
        F.pmod(F.xxhash64("o_orderkey"), F.lit(BLOOM_M)).alias("bucket")
    ).distinct()
    assert digest.count() <= BLOOM_M  # broadcast stays bounded, always
    survivors = lineitem.join(
        digest,
        F.pmod(F.xxhash64("l_orderkey"), F.lit(BLOOM_M)) == F.col("bucket"),
        "left_semi",
    )
    exact = lineitem.join(
        build, lineitem.l_orderkey == build.o_orderkey, "left_semi"
    )
    n_surv, n_exact, n_all = (
        survivors.count(), exact.count(), lineitem.count()
    )
    # the digest never drops a true match (superset) and the exact join
    # kills whatever collisions slipped through
    assert n_exact <= n_surv <= n_all
    out = registry.QUERIES["q_bloom_join"](spark, SF_SMALL)
    assert out.agg({"n_items": "sum"}).collect()[0][0] == n_exact


def test_ndcg_matches_brute_force_ranking_metrics(spark):
    import math

    from proxyhouse_spark.operators.similarity import N_PROBES, NDCG_K

    out = {
        r.probe_id: r
        for r in registry.QUERIES["q_ndcg"](spark, SF_SMALL).collect()
    }
    assert set(out) == set(range(N_PROBES))
    vecs = {
        r.vec_id: ([float(x) for x in r.embedding], r.label)
        for r in spark.read.parquet(
            f"{SF_SMALL}/embeddings.parquet"
        ).collect()
    }
    # replicate emb_corpus's planted near-twins (vec_id % 25 == 0 →
    # +1e6 twin with e[0] shifted by 0.05)
    for vid in list(vecs):
        if vid % 25 == 0:
            e, lab = vecs[vid]
            vecs[vid + 1_000_000] = ([e[0] + 0.05] + e[1:], lab)
    for pid in range(N_PROBES):
        pe, plabel = vecs[pid]
        scored = []
        for vid, (e, lab) in vecs.items():
            if vid == pid:
                continue
            dot = sum(a * b for a, b in zip(e, pe))
            na = math.sqrt(sum(a * a for a in e))
            nb = math.sqrt(sum(a * a for a in pe))
            scored.append((round(dot / (na * nb), 6), -vid, lab))
        scored.sort(reverse=True)
        rels = [1 if lab == plabel else 0 for _, _, lab in scored]
        topk = rels[:NDCG_K]
        dcg = sum(r / math.log2(i + 2) for i, r in enumerate(topk))
        n_rel = sum(rels)
        idcg = sum(
            1 / math.log2(i + 2) for i in range(min(NDCG_K, n_rel))
        )
        mrr = 0.0
        for i, r in enumerate(topk):
            if r:
                mrr = 1 / (i + 1)
                break
        row = out[pid]
        assert row.n_rel_at_k == sum(topk)
        assert abs(row.mrr - round(mrr, 6)) < 1e-9
        expect = 0.0 if idcg == 0 else round(dcg / idcg, 6)
        assert abs(row.ndcg_at_k - expect) < 1e-6
        assert 0.0 <= row.ndcg_at_k <= 1.0
    # the labeled fixture is non-degenerate: at least one probe has a
    # relevant hit in its top-K
    assert any(r.n_rel_at_k > 0 for r in out.values())


def test_twap_matches_locf_integral_brute_force(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        r.event_type: r
        for r in registry.QUERIES["q_twap"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "event_type", "ts", "value", "event_id"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    streams = {}
    for e in events:
        us = int((e.ts - epoch).total_seconds() * 1_000_000)
        streams.setdefault((e.user_id, e.event_type), []).append(
            (us, e.event_id, round(e.value * 1000))
        )
    agg = {}
    for (_, t), evs in streams.items():
        evs.sort()
        wsum, span = 0, 0
        for (t0, _, v), (t1, _, _) in zip(evs, evs[1:]):
            wsum += v * (t1 - t0)
            span += t1 - t0
        if span:
            a = agg.setdefault(t, [0, 0, 0])
            a[0] += wsum
            a[1] += span
            a[2] += 1
    assert set(out) == set(agg)
    for t, (wsum, span, n_users) in agg.items():
        r = out[t]
        assert r.n_users == n_users
        assert r.span_secs == span // 1_000_000
        assert abs(r.twap - round(wsum / span / 1000, 6)) < 1e-9
    # TWAP must differ from the naive mean somewhere on the fixture —
    # otherwise the exposure weighting is vacuous here
    naive = {}
    for e in events:
        a = naive.setdefault(e.event_type, [0, 0])
        a[0] += round(e.value * 1000)
        a[1] += 1
    assert any(
        abs(out[t].twap - naive[t][0] / naive[t][1] / 1000) > 1e-9
        for t in out
    )


def test_profile_matches_brute_force_column_stats(spark):
    from proxyhouse_spark.tables import table

    out = {
        (r.table_name, r.column_name): r
        for r in registry.QUERIES["q_profile"](spark, SF_SMALL).collect()
    }
    orders = table(spark, SF_SMALL, "orders").collect()
    docs = table(spark, SF_SMALL, "documents").collect()

    def check(key, vals, render=str):
        r = out[key]
        present = [v for v in vals if v is not None]
        assert r.n_rows == len(vals)
        assert r.n_null == len(vals) - len(present)
        assert r.n_distinct == len(set(present))
        assert r.min_repr == render(min(present))
        assert r.max_repr == render(max(present))

    check(("orders", "o_orderkey"), [r.o_orderkey for r in orders])
    check(("orders", "o_custkey"), [r.o_custkey for r in orders])
    check(("orders", "o_orderstatus"), [r.o_orderstatus for r in orders])
    check(
        ("orders", "o_totalprice_cents"),
        [round(r.o_totalprice * 100) for r in orders],
    )
    check(("orders", "o_orderpriority"), [r.o_orderpriority for r in orders])
    check(("documents", "doc_id"), [r.doc_id for r in docs])
    check(("documents", "lang"), [r.lang for r in docs])
    check(("documents", "source"), [r.source for r in docs])
    check(("documents", "n_chars"), [r.n_chars for r in docs])
    assert len(out) == 9


def test_cohort_ltv_matches_brute_force_curve(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        (r.cohort_day, r.age_days): r
        for r in registry.QUERIES["q_cohort_ltv"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "ts", "event_type", "value"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    first = {}
    for e in events:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        first[e.user_id] = min(first.get(e.user_id, d), d)
    sizes = {}
    for c in first.values():
        sizes[c] = sizes.get(c, 0) + 1
    cells = {}
    for e in events:
        if e.event_type != "purchase":
            continue
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        key = (first[e.user_id], d - first[e.user_id])
        rev, n = cells.get(key, (0, 0))
        cells[key] = (rev + round(e.value * 100), n + 1)
    assert set(out) == set(cells)
    for cohort in {c for c, _ in cells}:
        ages = sorted(a for c, a in cells if c == cohort)
        cum = 0
        for a in ages:
            rev, n = cells[(cohort, a)]
            cum += rev
            r = out[(cohort, a)]
            assert (r.cohort_size, r.n_purchases, r.cum_cents) == (
                sizes[cohort], n, cum
            )
            assert abs(
                r.ltv_per_user - round(cum / sizes[cohort] / 100, 6)
            ) < 1e-9
        # the curve is monotone nondecreasing within a cohort
        vals = [out[(cohort, a)].ltv_per_user for a in ages]
        assert vals == sorted(vals)
    # ages are nonnegative by construction (first event defines cohort)
    assert all(a >= 0 for _, a in out)


def test_qte_matches_interpolated_quantile_brute_force(spark):
    import hashlib

    from proxyhouse_spark.tables import table

    out = {
        r.q_label: r
        for r in registry.QUERIES["q_qte"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "value"
    ).collect()
    per_user = {}
    for e in events:
        s = per_user.setdefault(e.user_id, [0, 0])
        s[0] += round(e.value * 1000)
        s[1] += 1
    a, b = [], []
    for uid, (s, n) in per_user.items():
        h = int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16)
        (a if h % 2 == 0 else b).append(s // n)
    a.sort()
    b.sort()

    def q(xs, p):  # linear interpolation (percentile/quantile_cont)
        k = (len(xs) - 1) * p
        lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)

    for lbl, p in [("p25", .25), ("p50", .5), ("p75", .75), ("p90", .9)]:
        r = out[lbl]
        va, vb = q(a, p), q(b, p)
        assert abs(r.val_a - round(va / 1000, 6)) < 1e-9
        assert abs(r.val_b - round(vb / 1000, 6)) < 1e-9
        assert abs(r.qte - round((va - vb) / 1000, 6)) < 1e-9
    assert len(out) == 4


def test_mad_outliers_matches_brute_force_modified_z(spark):
    from proxyhouse_spark.operators.behavior import MAD_CUT, MAD_K
    from proxyhouse_spark.tables import table

    out = {
        r.event_type: r
        for r in registry.QUERIES["q_mad_outliers"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "event_type", "value"
    ).collect()
    series = {}
    for e in events:
        series.setdefault(e.event_type, []).append(round(e.value * 1000))

    def med(xs):
        xs = sorted(xs)
        n = len(xs)
        mid = n // 2
        return (
            float(xs[mid]) if n % 2 else (xs[mid - 1] + xs[mid]) / 2
        )

    for t, xs in series.items():
        r = out[t]
        m = med(xs)
        mad = med([abs(x - m) for x in xs])
        zs = [MAD_K * (x - m) / mad for x in xs] if mad > 0 else []
        n_out = sum(1 for z in zs if abs(z) > MAD_CUT)
        assert r.n_events == len(xs)
        assert abs(r.median - round(m / 1000, 6)) < 1e-9
        assert abs(r.mad - round(mad / 1000, 6)) < 1e-9
        assert r.n_outliers == n_out
        if zs:
            assert abs(
                r.max_abs_z - round(max(abs(z) for z in zs), 6)
            ) < 1e-9
    assert set(out) == set(series)


def test_zipf_fit_matches_weighted_midrank_ols(spark):
    import math

    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_zipf_fit"](spark, SF_SMALL).collect()[0]
    docs = table(spark, SF_SMALL, "documents").select("text").collect()
    freq = {}
    for d in docs:
        for tok in d.text.split(" "):
            freq[tok] = freq.get(tok, 0) + 1
    v, n_tok = len(freq), sum(freq.values())
    hapax = sum(1 for f in freq.values() if f == 1)
    assert (r.vocab_size, r.n_tokens) == (v, n_tok)
    assert abs(r.hapax_share - round(hapax / v, 6)) < 1e-9
    # frequency spectrum with descending midranks
    spec = {}
    for f in freq.values():
        spec[f] = spec.get(f, 0) + 1
    pts = []
    lo = 0  # ascending low edge over increasing frequency
    for f in sorted(spec):
        t = spec[f]
        mid_desc = v - lo - (t - 1) / 2
        pts.append((t, math.log(mid_desc), math.log(f)))
        lo += t
    sw = sum(t for t, _, _ in pts)
    sx = sum(t * x for t, x, _ in pts)
    sy = sum(t * y for t, _, y in pts)
    sxx = sum(t * x * x for t, x, _ in pts)
    sxy = sum(t * x * y for t, x, y in pts)
    syy = sum(t * y * y for t, _, y in pts)
    slope = (sw * sxy - sx * sy) / (sw * sxx - sx * sx)
    r2 = (sw * sxy - sx * sy) ** 2 / (
        (sw * sxx - sx * sx) * (sw * syy - sy * sy)
    )
    assert abs(r.zipf_alpha - round(-slope, 6)) < 1e-6
    assert abs(r.r2 - round(r2, 6)) < 1e-6
    assert 0.0 <= r.r2 <= 1.0
    assert r.zipf_alpha > 0  # frequency falls with rank, always


def test_knn_eval_matches_brute_force_vote(spark):
    import math

    from proxyhouse_spark.operators.similarity import EVAL_K, EVAL_PROBES

    rows = registry.QUERIES["q_knn_eval"](spark, SF_SMALL).collect()
    out = {}
    for r in rows:
        out[(r.true_label, r.pred_label)] = r.n_probes
    vecs = {
        r.vec_id: ([float(x) for x in r.embedding], r.label)
        for r in spark.read.parquet(
            f"{SF_SMALL}/embeddings.parquet"
        ).collect()
    }
    for vid in list(vecs):
        if vid % 25 == 0:
            e, lab = vecs[vid]
            vecs[vid + 1_000_000] = ([e[0] + 0.05] + e[1:], lab)
    expect = {}
    for pid in range(EVAL_PROBES):
        pe, plabel = vecs[pid]
        nb = math.sqrt(sum(a * a for a in pe))
        scored = []
        for vid, (e, lab) in vecs.items():
            if vid == pid:
                continue
            dot = sum(a * b for a, b in zip(e, pe))
            na = math.sqrt(sum(a * a for a in e))
            scored.append((round(dot / (na * nb), 6), -vid, lab))
        scored.sort(reverse=True)
        votes = {}
        for _, _, lab in scored[:EVAL_K]:
            votes[lab] = votes.get(lab, 0) + 1
        pred = min(votes, key=lambda lb: (-votes[lb], lb))
        key = (plabel, pred)
        expect[key] = expect.get(key, 0) + 1
    assert out == expect
    assert sum(out.values()) == EVAL_PROBES  # every probe classified once


def test_stream_extrema_lattice_survives_redelivery(spark, tmp_path):
    """The algebra claim: min/max are idempotent (a re-delivered batch
    under a NEW batch id cannot corrupt them), while the additive n/sum
    columns riding along are protected only by the batch-id fence —
    both halves checked explicitly."""
    from proxyhouse_spark.operators.cdc import (
        _EXTREMA_SCHEMA,
        _merge_extrema,
    )
    from proxyhouse_spark.streaming.passes import (
        read_snapshot as _snapshot_read,
    )

    snap = str(tmp_path / "snap")
    batch = spark.createDataFrame(
        [("click", 100), ("click", 300), ("view", 50)],
        "event_type string, cents bigint",
    )
    _merge_extrema(spark, batch, snap, 0)
    # same batch id → fence skips, everything unchanged
    _merge_extrema(spark, batch, snap, 0)
    rows = {
        r.event_type: r for r in _snapshot_read(
            spark, snap, _EXTREMA_SCHEMA
        ).collect()
    }
    assert (rows["click"].mn, rows["click"].mx, rows["click"].n,
            rows["click"].total) == (100, 300, 2, 400)
    # re-delivery under a NEW batch id: extrema stay fixed (lattice),
    # additive columns double (which is exactly why they need the fence)
    _merge_extrema(spark, batch, snap, 1)
    rows = {
        r.event_type: r for r in _snapshot_read(
            spark, snap, _EXTREMA_SCHEMA
        ).collect()
    }
    assert (rows["click"].mn, rows["click"].mx) == (100, 300)
    assert (rows["click"].n, rows["click"].total) == (4, 800)
    assert (rows["view"].mn, rows["view"].mx) == (50, 50)
    # a type absent from a later batch carries through intact
    batch2 = spark.createDataFrame(
        [("click", 10)], "event_type string, cents bigint"
    )
    _merge_extrema(spark, batch2, snap, 2)
    rows = {
        r.event_type: r for r in _snapshot_read(
            spark, snap, _EXTREMA_SCHEMA
        ).collect()
    }
    assert (rows["click"].mn, rows["view"].mx) == (10, 50)


def test_burstiness_matches_dense_variance_brute_force(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        r.event_type: r
        for r in registry.QUERIES["q_burstiness"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "event_type", "ts"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    daily = {}
    for e in events:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        key = (e.event_type, d)
        daily[key] = daily.get(key, 0) + 1
    for t in {tt for tt, _ in daily}:
        days = {d for tt, d in daily if tt == t}
        lo, hi = min(days), max(days)
        xs = [daily.get((t, d), 0) for d in range(lo, hi + 1)]
        n, mean = len(xs), sum(xs) / len(xs)
        var = sum((x - mean) ** 2 for x in xs) / n  # population variance
        r = out[t]
        assert (r.n_days, r.n_events) == (n, sum(xs))
        assert abs(r.mean_daily - round(mean, 6)) < 1e-9
        assert abs(r.fano - round(var / mean, 6)) < 1e-6
        assert r.fano >= 0.0
    assert len(out) == len({tt for tt, _ in daily})


def test_percentile_bands_match_interpolated_brute_force(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        r.day_num: r
        for r in registry.QUERIES["q_percentile_bands"](
            spark, SF_SMALL
        ).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "ts", "value"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    daily = {}
    for e in events:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        daily.setdefault(d, []).append(round(e.value * 1000))

    def q(xs, p):
        xs = sorted(xs)
        k = (len(xs) - 1) * p
        lo, hi = int(k), min(int(k) + 1, len(xs) - 1)
        return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)

    assert set(out) == set(daily)
    for d, xs in daily.items():
        r = out[d]
        assert r.n_events == len(xs)
        for col, p in (("p10", .1), ("p50", .5), ("p90", .9)):
            assert abs(
                getattr(r, col) - round(q(xs, p) / 1000, 6)
            ) < 1e-9
        assert r.p10 <= r.p50 <= r.p90


def test_neyman_alloc_matches_textbook_formula(spark):
    import math

    from proxyhouse_spark.operators.sampling import NEYMAN_BUDGET
    from proxyhouse_spark.tables import table

    out = {
        r.source: r
        for r in registry.QUERIES["q_neyman_alloc"](spark, SF_SMALL).collect()
    }
    docs = table(spark, SF_SMALL, "documents").select(
        "source", "n_chars"
    ).collect()
    strata = {}
    for d in docs:
        strata.setdefault(d.source, []).append(d.n_chars)
    weights = {}
    for src, xs in strata.items():
        n, s, q = len(xs), sum(xs), sum(x * x for x in xs)
        weights[src] = math.sqrt(n * q - s * s)  # N_h * sigma_h * N_h^0...
    denom = sum(weights.values())
    n_total = sum(len(xs) for xs in strata.values())
    for src, xs in strata.items():
        r = out[src]
        n = len(xs)
        assert r.n_rows == n
        assert abs(r.sd_chars - round(weights[src] / n, 6)) < 1e-6
        assert abs(r.alloc_share - round(weights[src] / denom, 6)) < 1e-9
        assert r.n_neyman == math.floor(
            NEYMAN_BUDGET * weights[src] / denom
        )
        assert r.n_proportional == NEYMAN_BUDGET * n // n_total
    # shares are a distribution; floor allocations never exceed budget
    assert abs(sum(r.alloc_share for r in out.values()) - 1.0) < 1e-4
    assert sum(r.n_neyman for r in out.values()) <= NEYMAN_BUDGET
    # Neyman must actually deviate from proportional somewhere (the
    # strata have unequal dispersions by fixture construction)
    assert any(
        r.n_neyman != r.n_proportional for r in out.values()
    ) or len({round(w, 3) for w in weights.values()}) == 1


def test_decay_matches_exact_power_of_two_brute_force(spark):
    import datetime as _dt
    from fractions import Fraction

    from proxyhouse_spark.operators.behavior import DECAY_HL_DAYS
    from proxyhouse_spark.tables import table

    out = {
        r.event_type: r
        for r in registry.QUERIES["q_decay"](spark, SF_SMALL).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "event_type", "ts", "value"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    rows = []
    for e in events:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        rows.append((e.event_type, d, round(e.value * 1000)))
    horizon = max(d for _, d, _ in rows)
    # exact rational arithmetic: the op's claim is that nothing rounds
    # until the final emission
    agg = {}
    for t, d, m in rows:
        a = min((horizon - d) // DECAY_HL_DAYS, 62)
        w = Fraction(1, 2**a)
        sw, swv, n = agg.get(t, (Fraction(0), Fraction(0), 0))
        agg[t] = (sw + w, swv + m * w, n + 1)
    for t, (sw, swv, n) in agg.items():
        r = out[t]
        assert r.n_events == n
        assert abs(r.decayed_count - round(float(sw), 6)) < 1e-9
        assert abs(
            r.decayed_mean - round(float(swv / sw) / 1000, 6)
        ) < 1e-9
        # decayed volume is at most the raw count, at least one event's
        # worth if anything happened this half-life
        assert float(sw) <= n
    assert set(out) == set(agg)


def test_seasonality_strength_matches_dense_eta_squared(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        r.event_type: r
        for r in registry.QUERIES["q_seasonality_strength"](
            spark, SF_SMALL
        ).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "event_type", "ts"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    daily = {}
    for e in events:
        d = int((e.ts - epoch).total_seconds() * 1_000_000) \
            // 86_400_000_000
        key = (e.event_type, d)
        daily[key] = daily.get(key, 0) + 1
    for t in {tt for tt, _ in daily}:
        days = {d for tt, d in daily if tt == t}
        lo, hi = min(days), max(days)
        xs = {d: daily.get((t, d), 0) for d in range(lo, hi + 1)}
        n = len(xs)
        mean = sum(xs.values()) / n
        sst = sum((x - mean) ** 2 for x in xs.values())
        classes = {}
        for d, x in xs.items():
            classes.setdefault((d + 4) % 7, []).append(x)
        ssb = sum(
            len(v) * (sum(v) / len(v) - mean) ** 2
            for v in classes.values()
        )
        peak = min(
            classes, key=lambda w: (-sum(classes[w]) / len(classes[w]), w)
        )
        r = out[t]
        assert r.n_days == n
        assert r.peak_weekday == peak
        assert abs(r.strength - round(ssb / sst, 6)) < 1e-6
        assert -1e-9 <= r.strength <= 1.0 + 1e-9
    assert len(out) == len({tt for tt, _ in daily})


def test_gap_percentiles_equal_sorted_interpolation(spark):
    import datetime as _dt

    from proxyhouse_spark.tables import table

    out = {
        r.pct: r.gap_secs
        for r in registry.QUERIES["q_gap_percentiles"](
            spark, SF_SMALL
        ).collect()
    }
    events = table(spark, SF_SMALL, "events").select(
        "user_id", "ts", "event_id"
    ).collect()
    epoch = _dt.datetime(1970, 1, 1)
    per_user = {}
    for e in events:
        us = int((e.ts - epoch).total_seconds() * 1_000_000)
        per_user.setdefault(e.user_id, []).append((us, e.event_id))
    gaps = []
    for evs in per_user.values():
        evs.sort()
        gaps += [(b[0] - a[0]) // 1_000_000 for a, b in zip(evs, evs[1:])]
    gaps.sort()
    n = len(gaps)
    for p in (50, 90, 99):
        num = (n - 1) * p
        lo, fr = num // 100, num % 100
        hi = min(lo + 1, n - 1)
        expect = gaps[lo] + (gaps[hi] - gaps[lo]) * fr / 100
        assert abs(out[p] - round(expect, 6)) < 1e-9, p
    # the selection must agree with the engine's own percentile()
    # identity (the per-group-sort spelling this op replaces)
    spark.createDataFrame(
        [(g,) for g in gaps], "v bigint"
    ).createOrReplaceTempView("gaps_flat")
    ref = spark.sql(
        "SELECT percentile(v, array(0.5, 0.9, 0.99)) AS q FROM gaps_flat"
    ).collect()[0].q
    for p, r in zip((50, 90, 99), ref):
        assert abs(out[p] - round(r, 6)) < 1e-9


def test_hill_tail_matches_sorted_brute_force(spark):
    import math

    from proxyhouse_spark.operators.layout import HILL_K
    from proxyhouse_spark.tables import table

    r = registry.QUERIES["q_hill_tail"](spark, SF_SMALL).collect()[0]
    orders = table(spark, SF_SMALL, "orders").select(
        "o_totalprice", "o_orderkey"
    ).collect()
    ranked = sorted(
        ((round(o.o_totalprice * 100), o.o_orderkey) for o in orders),
        key=lambda t: (-t[0], t[1]),
    )
    top = [c for c, _ in ranked[:HILL_K]]
    xk = ranked[HILL_K][0]
    alpha = HILL_K / sum(math.log(c / xk) for c in top)
    assert r.k == HILL_K
    assert r.threshold_cents == xk
    assert abs(r.hill_alpha - round(alpha, 6)) < 1e-6
    assert r.hill_alpha > 0


def test_audio_vad_matches_byte_window_brute_force(spark):
    from proxyhouse_spark.operators.multimodal import (
        AUDIO_MIN_ACTIVE,
        AUDIO_WIN,
    )
    from proxyhouse_spark.tables import table

    out = {
        r.doc_id: r
        for r in registry.QUERIES["q_audio_vad"](spark, SF_SMALL).collect()
    }
    docs = table(spark, SF_SMALL, "documents").select(
        "doc_id", "text"
    ).collect()
    trimmed = 0
    for d in docs:
        b = d.text.encode()
        n_win = (len(b) + AUDIO_WIN - 1) // AUDIO_WIN
        act = [
            sum(
                1 for c in b[w * AUDIO_WIN:(w + 1) * AUDIO_WIN]
                if c != 0x20
            ) >= AUDIO_MIN_ACTIVE
            for w in range(n_win)
        ]
        n_act = sum(act)
        r = out[d.doc_id]
        assert (r.n_windows, r.n_active) == (n_win, n_act)
        if n_act:
            assert r.first_active == act.index(True) + 1
            assert r.last_active == n_win - act[::-1].index(True)
        else:
            assert (r.first_active, r.last_active) == (0, 0)
        assert r.active_bp == (10000 * n_act // n_win if n_win else 0)
        if n_act < n_win:
            trimmed += 1
    # the windowing must actually bite on the fixture: short tail
    # windows fall below the activity threshold for a visible fraction
    assert trimmed > 0
    assert len(out) == len(docs)


def test_schema_merge_backfills_nulls_for_old_generation(spark):
    from proxyhouse_spark.tables import table

    rows = registry.QUERIES["q_schema_merge"](spark, SF_SMALL).collect()
    events = table(spark, SF_SMALL, "events").select(
        "event_id", "event_type", "value"
    ).collect()
    expect = {}
    for e in events:
        a = expect.setdefault(e.event_type, [0, 0, 0])
        a[0] += 1
        if e.event_id % 2 == 1:
            a[1] += 1
            a[2] += round(e.value * 100)
    assert len(rows) == len(expect)
    for r in rows:
        n, nv, cents = expect[r.event_type]
        assert (r.n_rows, r.n_with_value, r.value_cents_total) == (
            n, nv, cents
        )
        assert r.n_null_backfill == n - nv
        # both generations must be non-empty or the merge is vacuous
        assert r.n_with_value > 0 and r.n_null_backfill > 0


def test_redundancy_matches_pooled_gram_brute_force(spark):
    from proxyhouse_spark.tables import table

    out = {
        r.source: r
        for r in registry.QUERIES["q_redundancy"](spark, SF_SMALL).collect()
    }
    docs = table(spark, SF_SMALL, "documents").select(
        "source", "text"
    ).collect()
    pools = {}
    for d in docs:
        toks = d.text.split(" ")
        grams = pools.setdefault(d.source, {})
        for i in range(len(toks) - 2):
            g = " ".join(toks[i:i + 3])
            grams[g] = grams.get(g, 0) + 1
    assert set(out) == set(pools)
    for src, grams in pools.items():
        r = out[src]
        total, distinct = sum(grams.values()), len(grams)
        assert (r.total_grams, r.distinct_grams) == (total, distinct)
        assert abs(r.redundancy - round(total / distinct, 6)) < 1e-9
        assert abs(
            r.top_gram_share - round(max(grams.values()) / total, 6)
        ) < 1e-9
        assert r.redundancy >= 1.0
    # pooling must bite: some source has cross-doc shared grams
    # (redundancy > 1 somewhere), or the detector is vacuous here
    assert any(r.redundancy > 1.0 for r in out.values())


def test_entropy_rate_matches_brute_force_shannon(spark):
    """Literal Python H(W2|W1) over the sf0.001 corpus, same 6-dp
    term rounding; also pins the perplexity = 2^H readout."""
    import math
    from collections import Counter

    texts = [
        r.text
        for r in spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("text")
        .collect()
    ]
    c12, c1 = Counter(), Counter()
    for t in texts:
        toks = t.split(" ")
        for a, b in zip(toks, toks[1:]):
            c12[(a, b)] += 1
            c1[a] += 1
    n = sum(c12.values())
    h = -sum(
        c * round(math.log2(c / c1[w1]), 6) for (w1, _), c in c12.items()
    ) / n
    [row] = registry.QUERIES["q_entropy_rate"](spark, SF_SMALL).collect()
    assert row.n_bigrams == n
    assert row.n_bigram_types == len(c12)
    assert row.n_contexts == len(c1)
    assert abs(row.entropy_bits - h) < 1e-5
    assert abs(row.perplexity - 2 ** row.entropy_bits) < 1e-3
    # conditional entropy can't exceed the context-marginal's log-vocab
    assert 0.0 < row.entropy_bits < math.log2(len(c1)) + 1e-9


def test_heaps_law_matches_brute_force_prefix_fit(spark):
    """Literal Python prefix construction + OLS on 6-dp-rounded logs."""
    import math

    from proxyhouse_spark.operators.textops import HEAPS_POINTS

    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    dmin = min(r.doc_id for r in rows)
    span = max(r.doc_id for r in rows) - dmin + 1
    p = HEAPS_POINTS

    def bucket(doc_id):
        return (p * (doc_id - dmin + 1) - 1) // span + 1

    toks_b, first_b = [0] * (p + 1), [0] * (p + 1)
    seen = {}
    for r in sorted(rows, key=lambda r: r.doc_id):
        b = bucket(r.doc_id)
        toks = r.text.split(" ")
        toks_b[b] += len(toks)
        for t in toks:
            if t not in seen:
                seen[t] = b
    for b in seen.values():
        first_b[b] += 1
    pts, cum_t, cum_v = [], 0, 0
    for b in range(1, p + 1):
        if toks_b[b] == 0 and first_b[b] == 0:
            continue
        cum_t += toks_b[b]
        cum_v += first_b[b]
        pts.append((round(math.log(cum_t), 6), round(math.log(cum_v), 6)))
    k = len(pts)
    sx = sum(x for x, _ in pts)
    sy = sum(y for _, y in pts)
    sxy = sum(x * y for x, y in pts)
    sxx = sum(x * x for x, _ in pts)
    beta = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    kc = math.exp(sy / k - beta * sx / k)
    [row] = registry.QUERIES["q_heaps_law"](spark, SF_SMALL).collect()
    assert row.n_points == k
    assert row.total_tokens == cum_t
    assert row.total_vocab == cum_v == len(seen)
    assert abs(row.beta - beta) < 2e-4
    assert abs(row.k_coeff - kc) < 2e-3
    # sublinear growth; the toy fixture's ~40-word vocabulary saturates
    # inside the FIRST checkpoint, so beta bottoms out at exactly 0.0 —
    # the "closed vocabulary" reading the docstring describes
    assert 0.0 <= row.beta < 1.0


def test_corr_matrix_matches_numpy_on_centi_units(spark):
    import numpy as np

    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .collect()
    )
    cols = list(zip(*[
        [
            round(r.l_quantity * 100),
            round(r.l_extendedprice * 100),
            round(r.l_discount * 100),
            round(r.l_tax * 100),
        ]
        for r in li
    ]))
    mat = np.corrcoef(np.array(cols, dtype=np.float64))
    names = ["quantity", "extendedprice", "discount", "tax"]
    rows = registry.QUERIES["q_corr_matrix"](spark, SF_SMALL).collect()
    assert len(rows) == 6  # upper triangle of a 4x4
    for r in rows:
        i, j = names.index(r.col_x), names.index(r.col_y)
        assert i < j, "output must be the strict upper triangle"
        assert r.n == len(li)
        assert abs(r.corr - mat[i, j]) < 1e-6
        assert -1.0 <= r.corr <= 1.0


def test_mutual_info_matches_brute_force(spark):
    import math
    from collections import Counter

    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("lang", "source")
        .collect()
    )
    cells = Counter((r.lang, r.source) for r in rows)
    n = sum(cells.values())
    rl = Counter()
    cs = Counter()
    for (l, s), c in cells.items():
        rl[l] += c
        cs[s] += c
    mi = sum(
        c * round(math.log2(c * n / (rl[l] * cs[s])), 6)
        for (l, s), c in cells.items()
    ) / n
    hl = -sum(c * round(math.log2(c / n), 6) for c in rl.values()) / n
    hs = -sum(c * round(math.log2(c / n), 6) for c in cs.values()) / n
    [row] = registry.QUERIES["q_mutual_info"](spark, SF_SMALL).collect()
    assert (row.n, row.n_langs, row.n_sources) == (n, len(rl), len(cs))
    assert abs(row.mi_bits - mi) < 1e-5
    assert abs(row.h_lang - hl) < 1e-5
    assert abs(row.h_source - hs) < 1e-5
    assert abs(row.nmi - round(row.mi_bits / min(row.h_lang, row.h_source), 6)) < 1e-9
    # information inequalities: 0 <= MI <= min(H)
    assert -1e-6 <= row.mi_bits <= min(hl, hs) + 1e-6


def test_source_diversity_matches_brute_force(spark):
    import math
    from collections import Counter, defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    toks = defaultdict(Counter)
    for r in rows:
        toks[r.source].update(r.text.split(" "))
    got = {
        r.source: r
        for r in registry.QUERIES["q_source_diversity"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(got) == set(toks)
    for src, cnt in toks.items():
        n = sum(cnt.values())
        sh = -sum(c * round(math.log2(c / n), 6) for c in cnt.values()) / n
        si = sum(c * (c - 1) for c in cnt.values()) / (n * (n - 1))
        r = got[src]
        assert r.n_tokens == n
        assert r.vocab == len(cnt)
        assert abs(r.shannon_bits - sh) < 1e-5
        assert abs(r.simpson - si) < 1e-6
        assert r.ttr == round(len(cnt) / n, 6)


def test_vocab_overlap_matches_brute_force(spark):
    import math
    from collections import Counter, defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("source", "text")
        .collect()
    )
    toks = defaultdict(Counter)
    for r in rows:
        toks[r.source].update(r.text.split(" "))
    out = registry.QUERIES["q_vocab_overlap"](spark, SF_SMALL).collect()
    srcs = sorted(toks)
    expected_pairs = {
        (a, b) for i, a in enumerate(srcs) for b in srcs[i + 1:]
        if set(toks[a]) & set(toks[b])
    }
    assert {(r.src_a, r.src_b) for r in out} == expected_pairs
    for r in out:
        a, b = toks[r.src_a], toks[r.src_b]
        inter = set(a) & set(b)
        assert r.inter_vocab == len(inter)
        assert r.jaccard == round(len(inter) / len(set(a) | set(b)), 6)
        assert r.containment == round(len(inter) / min(len(a), len(b)), 6)
        dot = sum(a[t] * b[t] for t in inter)
        na = math.sqrt(sum(c * c for c in a.values()))
        nb = math.sqrt(sum(c * c for c in b.values()))
        assert abs(r.cosine - dot / (na * nb)) < 1e-6
        # the op's reason to exist: on the shared closed vocabulary the
        # set view saturates while the mass view still separates
        assert r.cosine < 1.0 or r.jaccard < 1.0


def test_rrf_fusion_ranks_and_formula(spark):
    import numpy as np

    from proxyhouse_spark.operators.retrieval import (
        RRF_DEPTH,
        RRF_K,
        RRF_QUERY_ID,
        RRF_TOPK,
    )

    out = registry.QUERIES["q_rrf_fusion"](spark, SF_SMALL).collect()
    assert len(out) == RRF_TOPK
    # the fused score must be exactly the RRF of the REPORTED ranks
    prev = None
    for r in out:
        assert r.r_sparse is not None or r.r_dense is not None
        for rank in (r.r_sparse, r.r_dense):
            assert rank is None or 1 <= rank <= RRF_DEPTH
        expect = round(
            (1.0 / (RRF_K + r.r_sparse) if r.r_sparse else 0.0)
            + (1.0 / (RRF_K + r.r_dense) if r.r_dense else 0.0),
            6,
        )
        assert r.rrf == expect
        if prev is not None:  # output ordered by fused score
            assert r.rrf <= prev
        prev = r.rrf
    # dense-leg ranks agree with a numpy cosine ranking (rounded-score,
    # id-tiebreak discipline)
    emb = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    }
    q = emb[RRF_QUERY_ID]
    scored = sorted(
        (
            (-round(float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q))), 6), i)
            for i, v in emb.items()
            if i != RRF_QUERY_ID
        ),
    )[:RRF_DEPTH]
    dense_rank = {i: r + 1 for r, (_, i) in enumerate(scored)}
    for r in out:
        if r.r_dense is not None:
            assert dense_rank.get(r.doc_id) == r.r_dense, r.doc_id


def test_markov_stationary_matches_integer_power_iteration(spark):
    from collections import Counter, defaultdict

    from proxyhouse_spark.operators.behavior import (
        MARKOV_ITERS,
        MARKOV_SCALE,
    )

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "event_id", "ts", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    m = Counter()
    for evs in by_user.values():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        for a, b in zip(evs, evs[1:]):
            m[(a.event_type, b.event_type)] += 1
    tot = Counter()
    for (s, _), c in m.items():
        tot[s] += c
    pi = {s: MARKOV_SCALE // len(tot) for s in tot}
    hist = [dict(pi)]
    for _ in range(MARKOV_ITERS):
        nxt = Counter()
        for (s, d), c in m.items():
            nxt[d] += pi[s] * c // tot[s]
        pi = dict(nxt)
        hist.append(dict(pi))
    out = {
        r.event_type: r
        for r in registry.QUERIES["q_markov_stationary"](
            spark, SF_SMALL
        ).collect()
    }
    assert set(out) == set(hist[-1])
    for t, r in out.items():
        assert r.pi_micros == hist[-1][t]
        assert r.prev_pi_micros == hist[-2][t]
        assert r.delta_micros == abs(hist[-1][t] - hist[-2][t])
    # the chain is converging: total L1 movement shrinks step over step
    l1_last = sum(abs(hist[-1][t] - hist[-2][t]) for t in hist[-1])
    l1_first = sum(abs(hist[1][t] - hist[0][t]) for t in hist[1])
    assert l1_last <= l1_first


def test_recursive_hierarchy_matches_literal_chain(spark):
    from collections import Counter

    keys = [
        r.c_custkey
        for r in spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        .select("c_custkey")
        .collect()
    ]
    entries = Counter()
    at_root = Counter()
    for k in keys:
        cur, depth = k, 0
        entries[depth] += 1
        while cur > 0:
            cur //= 10
            depth += 1
            entries[depth] += 1
        at_root[depth] += 1  # the terminal row is the one with ancestor 0
    got = {
        r.depth: (r.n_entries, r.n_at_root)
        for r in registry.QUERIES["q_recursive_hierarchy"](
            spark, SF_SMALL
        ).collect()
    }
    assert got == {
        d: (entries[d], at_root.get(d, 0)) for d in entries
    }


def test_stream_mutual_info_snapshot_equals_batch(spark):
    """Batch-boundary invisibility: the two-pass streamed contingency
    snapshot must yield the EXACT batch MI row."""
    batch = registry.QUERIES["q_mutual_info"](spark, SF_SMALL).collect()
    streamed = registry.QUERIES["q_stream_mutual_info"](
        spark, SF_SMALL
    ).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def _interp_pct(sorted_vals, q):
    """numpy-'linear' interpolation — Spark percentile() semantics."""
    n = len(sorted_vals)
    pos = (n - 1) * q
    lo = int(pos)
    frac = pos - lo
    if lo + 1 < n:
        return sorted_vals[lo] + (sorted_vals[lo + 1] - sorted_vals[lo]) * frac
    return float(sorted_vals[lo])


def test_winsorize_matches_brute_force(spark):
    from collections import defaultdict

    from proxyhouse_spark.operators.behavior import WINSOR_HI, WINSOR_LO

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("event_type", "value")
        .collect()
    )
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(int(round(r.value * 1000)))
    got = {
        r.event_type: r
        for r in registry.QUERIES["q_winsorize"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(by_type)
    for t, vals in by_type.items():
        vals.sort()
        lo = _interp_pct(vals, WINSOR_LO)
        hi = _interp_pct(vals, WINSOR_HI)
        mid = [v for v in vals if lo <= v <= hi]
        n_below = sum(1 for v in vals if v < lo)
        n_above = sum(1 for v in vals if v > hi)
        r = got[t]
        assert r.n == len(vals)
        assert r.n_tail == n_below + n_above
        assert abs(r.raw_mean - sum(vals) / len(vals) / 1000) < 1e-6
        wm = (n_below * lo + n_above * hi + sum(mid)) / len(vals) / 1000
        assert abs(r.winsor_mean - wm) < 1e-6
        assert abs(r.trimmed_mean - sum(mid) / len(mid) / 1000) < 1e-6
        # robustness ordering on a right-skewed metric: clamping can only
        # pull the mean toward the median side
        assert r.n_tail > 0


def test_ratio_metric_delta_matches_brute_force(spark):
    import hashlib
    import math
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "value")
        .collect()
    )
    per_user = defaultdict(lambda: [0, 0])
    for r in rows:
        per_user[r.user_id][0] += int(round(r.value * 1000))
        per_user[r.user_id][1] += 1

    def pick(uid):
        return int(hashlib.md5(str(uid).encode()).hexdigest()[:12], 16) % 2 == 0

    def leg(users):
        xs = [per_user[u][0] for u in users]
        ys = [per_user[u][1] for u in users]
        n = len(users)
        sx, sy = sum(xs), sum(ys)
        r = sx / sy
        vx = (sum(x * x for x in xs) - sx * sx / n) / (n - 1)
        vy = (sum(y * y for y in ys) - sy * sy / n) / (n - 1)
        cxy = (sum(x * y for x, y in zip(xs, ys)) - sx * sy / n) / (n - 1)
        ybar = sy / n
        se2 = (vx - 2 * r * cxy + r * r * vy) / (n * ybar * ybar)
        return n, r, se2

    a = leg([u for u in per_user if pick(u)])
    b = leg([u for u in per_user if not pick(u)])
    [row] = registry.QUERIES["q_ratio_metric_delta"](
        spark, SF_SMALL
    ).collect()
    assert (row.n_a, row.n_b) == (a[0], b[0])
    assert abs(row.ratio_a - a[1] / 1000) < 1e-6
    assert abs(row.ratio_b - b[1] / 1000) < 1e-6
    assert abs(row.se - math.sqrt(a[2] + b[2]) / 1000) < 1e-6
    assert abs(row.z - (a[1] - b[1]) / math.sqrt(a[2] + b[2])) < 1e-5


def _en_scores(spark):
    from proxyhouse_spark.functions.text import STOPWORDS

    rows = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("lang", "text")
        .collect()
    )
    out = []
    for r in rows:
        toks = r.text.split(" ")
        hits = sum(1 for t in toks if t in STOPWORDS)
        out.append((10000 * hits // max(len(toks), 1), r.lang == "en"))
    return out


def test_calibration_matches_brute_force_ece(spark):
    from collections import defaultdict

    scored = _en_scores(spark)
    bins = defaultdict(lambda: [0, 0, 0])  # n, sum_bp, n_pos
    for bp, pos in scored:
        b = bins[bp // 1000]
        b[0] += 1
        b[1] += bp
        b[2] += pos
    nn = len(scored)
    ece = sum(abs(s - 10000 * p) for _, s, p in bins.values()) / (10000 * nn)
    got = {
        r.bin: r
        for r in registry.QUERIES["q_calibration"](spark, SF_SMALL).collect()
    }
    assert set(got) == set(bins)
    for bno, (n, s, p) in bins.items():
        r = got[bno]
        assert r.n == n
        assert abs(r.confidence - s / (10000 * n)) < 1e-6
        assert abs(r.accuracy - p / n) < 1e-6
        assert abs(r.ece - ece) < 1e-6


def test_auc_matches_pairwise_brute_force(spark):
    scored = _en_scores(spark)
    pos = [bp for bp, p in scored if p]
    neg = [bp for bp, p in scored if not p]
    wins = sum(1 for a in pos for b in neg if a > b)
    ties = sum(1 for a in pos for b in neg if a == b)
    auc = (wins + 0.5 * ties) / (len(pos) * len(neg))
    [row] = registry.QUERIES["q_auc"](spark, SF_SMALL).collect()
    assert (row.n, row.n_pos, row.n_neg) == (
        len(scored), len(pos), len(neg)
    )
    assert abs(row.auc - auc) < 1e-6
    assert abs(row.gini - (2 * auc - 1)) < 1e-6


def test_pr_curve_matches_brute_force_ap(spark):
    from collections import Counter

    scored = _en_scores(spark)
    g = Counter()
    gp = Counter()
    for bp, p in scored:
        g[bp] += 1
        gp[bp] += p
    tot_pos = sum(gp.values())
    rows = registry.QUERIES["q_pr_curve"](spark, SF_SMALL).collect()
    assert len(rows) == len(g)
    cum_n = cum_pos = 0
    ap = 0.0
    expect = {}
    for bp in sorted(g, reverse=True):
        cum_n += g[bp]
        cum_pos += gp[bp]
        prec = cum_pos / cum_n
        rec = cum_pos / tot_pos
        f1 = 2 * prec * rec / (prec + rec) if cum_pos else 0.0
        ap += round(gp[bp] * prec / tot_pos, 9)
        expect[bp] = (cum_n, cum_pos, round(prec, 6), round(rec, 6),
                      round(f1, 6))
    best = max(v[4] for v in expect.values())
    for r in rows:
        e = expect[r.threshold_bp]
        assert (r.n_predicted_pos, r.tp) == e[:2]
        assert (r.precision, r.recall, r.f1) == e[2:]
        assert r.is_best_f1 == (r.f1 == best)
        assert abs(r.ap - ap) < 1e-6
    # the loosest threshold predicts everything positive: recall = 1
    loosest = min(expect)
    assert expect[loosest][3] == 1.0


def test_stream_auc_snapshot_equals_batch(spark):
    batch = registry.QUERIES["q_auc"](spark, SF_SMALL).collect()
    streamed = registry.QUERIES["q_stream_auc"](spark, SF_SMALL).collect()
    assert [tuple(r) for r in streamed] == [tuple(r) for r in batch]


def _user_period_metrics(spark):
    import hashlib
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "ts", "value")
        .collect()
    )
    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    ts_us = [us(r.ts) for r in rows]
    mid = (min(ts_us) + max(ts_us)) // 2
    cells = defaultdict(int)
    for r, t in zip(rows, ts_us):
        pick = int(hashlib.md5(str(r.user_id).encode()).hexdigest()[:12],
                   16) % 2 == 0
        cells[(r.user_id, pick, 1 if t > mid else 0)] += int(
            round(r.value * 1000)
        )
    return cells


def test_did_matches_brute_force(spark):
    import math
    from collections import defaultdict

    cells = _user_period_metrics(spark)
    groups = defaultdict(list)
    for (_, pick, post), m in cells.items():
        groups[(pick, post)].append(m)

    def stats(vals):
        n = len(vals)
        mean = sum(vals) / n
        var = (sum(v * v for v in vals) - sum(vals) ** 2 / n) / (n - 1)
        return mean, var / n

    (ma1, s1), (ma0, s0) = stats(groups[(True, 1)]), stats(groups[(True, 0)])
    (mb1, s3), (mb0, s2) = stats(groups[(False, 1)]), stats(groups[(False, 0)])
    est = (ma1 - ma0) - (mb1 - mb0)
    se = math.sqrt(s0 + s1 + s2 + s3)
    [row] = registry.QUERIES["q_did"](spark, SF_SMALL).collect()
    assert abs(row.a_pre_mean - ma0 / 1000) < 1e-6
    assert abs(row.b_post_mean - mb1 / 1000) < 1e-6
    assert abs(row.did - est / 1000) < 1e-6
    assert abs(row.se - se / 1000) < 1e-6
    assert abs(row.z - est / se) < 1e-5


def test_mde_matches_brute_force(spark):
    import math
    from collections import defaultdict

    from proxyhouse_spark.operators.behavior import MDE_Z_ALPHA, MDE_Z_BETA

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "value")
        .collect()
    )
    per_user = defaultdict(int)
    for r in rows:
        per_user[r.user_id] += int(round(r.value * 1000))
    vals = list(per_user.values())
    n = len(vals)
    var = (sum(v * v for v in vals) - sum(vals) ** 2 / n) / (n - 1)
    mde = (MDE_Z_ALPHA + MDE_Z_BETA) * math.sqrt(2 * var / (n / 2))
    [row] = registry.QUERIES["q_mde"](spark, SF_SMALL).collect()
    assert row.n_users == n
    assert abs(row.sd_metric - math.sqrt(var) / 1000) < 1e-6
    assert abs(row.mde_abs - mde / 1000) < 1e-6
    assert abs(row.mde_pct - mde / (sum(vals) / n) * 100) < 1e-4
    # a detectable lift must cost more than zero and less than the mean
    # itself on this well-populated fixture
    assert 0 < row.mde_pct < 100


def test_funnel_ttc_matches_brute_force(spark):
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "ts", "event_type")
        .collect()
    )
    by_user = defaultdict(list)
    for r in rows:
        by_user[r.user_id].append(r)
    g1, g2 = [], []
    for evs in by_user.values():
        views = [e.ts for e in evs if e.event_type == "view"]
        if not views:
            continue
        tv = min(views)
        clicks = [e.ts for e in evs if e.event_type == "click" and e.ts > tv]
        if not clicks:
            continue
        tc = min(clicks)
        g1.append(int((tc - tv).total_seconds()))
        purch = [e.ts for e in evs
                 if e.event_type == "purchase" and e.ts > tc]
        if purch:
            g2.append(int((min(purch) - tc).total_seconds()))
    got = {r.transition: r for r in registry.QUERIES["q_funnel_ttc"](
        spark, SF_SMALL).collect()}
    for name, gaps in (("view>click", g1), ("click>purchase", g2)):
        gaps.sort()
        r = got[name]
        assert r.n_users == len(gaps)
        for col, q in (("p25_s", 0.25), ("p50_s", 0.5), ("p90_s", 0.9)):
            assert abs(getattr(r, col) - _interp_pct(gaps, q)) < 1e-4, col
    # percentile sanity: the envelope is monotone and strictly positive
    # (strict event ordering makes a zero-second transition impossible)
    for r in got.values():
        assert 0 < r.p25_s <= r.p50_s <= r.p90_s


def test_modularity_matches_brute_force(spark):
    from collections import defaultdict

    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_orderkey", "l_partkey")
        .collect()
    )
    brand = {
        r.p_partkey: r.p_brand
        for r in spark.read.parquet(f"{SF_SMALL}/part.parquet").collect()
    }
    by_order = defaultdict(set)
    for r in li:
        by_order[r.l_orderkey].add(r.l_partkey)
    edges = set()
    for parts in by_order.values():
        for a in parts:
            for b in parts:
                if a != b:
                    edges.add((a, b))  # symmetric directed view
    deg = defaultdict(int)
    for a, _ in edges:
        deg[a] += 1
    m2 = len(edges)
    d_c = defaultdict(int)
    m2_c = defaultdict(int)
    for p, d in deg.items():
        d_c[brand[p]] += d
    for a, b in edges:
        if brand[a] == brand[b]:
            m2_c[brand[a]] += 1
    q = (
        sum(m2_c[c] * m2 for c in d_c) - sum(d * d for d in d_c.values())
    ) / (m2 * m2)
    [row] = registry.QUERIES["q_modularity"](spark, SF_SMALL).collect()
    assert row.n_communities == len(d_c)
    assert row.n_edges == m2 // 2
    assert abs(row.modularity - q) < 1e-6
    # modularity is bounded in [-1, 1] by definition
    assert -1.0 <= row.modularity <= 1.0


def test_phash_finds_planted_exact_copies_at_hamming_zero(spark):
    from proxyhouse_spark.operators.multimodal import (
        PHASH_HAMMING,
        _ahash_bits,
    )

    rows = registry.QUERIES["q_phash_neardup"](spark, SF_SMALL).collect()
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in rows}
    # every planted byte-identical copy (doc_id % 10 == 0 → +1e6) MUST
    # surface at Hamming 0 — identical payloads share every band
    for d in range(0, 500, 10):
        assert pairs.get((d, d + 1_000_000)) == 0, d
    for (a, b), h in pairs.items():
        assert a < b
        assert 0 <= h <= PHASH_HAMMING
    # the Python hash agrees with itself on a literal doc (determinism)
    hi, lo = _ahash_bits(b"some literal payload bytes here")
    assert (hi, lo) == _ahash_bits(b"some literal payload bytes here")
    assert 0 <= hi < 2 ** 32 and 0 <= lo < 2 ** 32


def test_format_scan_three_legs_identical(spark):
    rows = registry.QUERIES["q_format_scan"](spark, SF_SMALL).collect()
    by_fmt = {}
    for r in rows:
        by_fmt.setdefault(r.fmt, {})[r.event_type] = (r.n, r.cents_total)
    assert set(by_fmt) == {"parquet", "csv", "jsonl"}
    # format parity IS the claim: every leg returns the identical rollup
    assert by_fmt["parquet"] == by_fmt["csv"] == by_fmt["jsonl"]
    assert sum(n for n, _ in by_fmt["parquet"].values()) == 1000


def test_lag_features_matches_brute_force(spark):
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "ts", "value")
        .collect()
    )
    daily = defaultdict(lambda: [0, 0])  # (user, day) -> [milli, n]
    for r in rows:
        epoch = r.ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                             second=0, microsecond=0)
        td = r.ts - epoch
        day = ((td.days * 86_400 + td.seconds) * 1_000_000
               + td.microseconds) // 86_400_000_000
        cell = daily[(r.user_id, day)]
        cell[0] += int(round(r.value * 1000))
        cell[1] += 1
    out = registry.QUERIES["q_lag_features"](spark, SF_SMALL).collect()
    assert len(out) == len(daily)
    for r in out:
        key = (r.user_id, r.day)
        assert (r.milli_today, r.n_today) == tuple(daily[key])
        l1 = daily.get((r.user_id, r.day - 1))
        l7 = daily.get((r.user_id, r.day - 7))
        assert r.milli_lag1 == (l1[0] if l1 else None)
        assert r.milli_lag7 == (l7[0] if l7 else None)
        window = [daily[(r.user_id, d)]
                  for d in range(r.day - 6, r.day + 1)
                  if (r.user_id, d) in daily]
        assert r.roll_days == len(window)
        assert r.milli_roll7 == sum(w[0] for w in window)
        assert r.n_roll7 == sum(w[1] for w in window)


def test_target_encoding_is_leak_free(spark):
    from collections import defaultdict

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "source", "lang")
        .collect()
    )
    agg = defaultdict(lambda: [0, 0])
    for d in docs:
        agg[d.source][0] += d.lang == "en"
        agg[d.source][1] += 1
    out = {r.doc_id: r for r in registry.QUERIES["q_target_encoding"](
        spark, SF_SMALL).collect()}
    assert len(out) == len(docs)
    for d in docs:
        pos, n = agg[d.source]
        r = out[d.doc_id]
        y = 1 if d.lang == "en" else 0
        assert r.y == y
        if n > 1:
            assert r.te_loo == round((pos - y) / (n - 1), 6)
        else:
            assert r.te_loo is None
        assert r.te_naive == round(pos / n, 6)
    # the leak signature: within a category, the naive encoding is
    # constant while LOO differs by label (when both labels occur)
    by_src = defaultdict(set)
    for d in docs:
        by_src[d.source].add(1 if d.lang == "en" else 0)
    mixed = [s for s, ys in by_src.items() if len(ys) == 2]
    assert mixed, "fixture should have mixed-label sources"
    s = mixed[0]
    los = {out[d.doc_id].te_loo for d in docs if d.source == s}
    assert len(los) == 2


def test_woe_iv_matches_brute_force(spark):
    import math
    from collections import defaultdict

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("source", "lang")
        .collect()
    )
    c = defaultdict(lambda: [0, 0])
    for d in docs:
        c[d.source][d.lang != "en"] += 1
    pos = sum(v[0] for v in c.values())
    neg = sum(v[1] for v in c.values())
    woes = {
        s: round(math.log(((p + 0.5) / pos) / ((n + 0.5) / neg)), 6)
        for s, (p, n) in c.items()
    }
    iv = sum(round((p / pos - n / neg) * woes[s], 9)
             for s, (p, n) in c.items())
    out = {r.source: r for r in registry.QUERIES["q_woe_iv"](
        spark, SF_SMALL).collect()}
    assert set(out) == set(c)
    for s, (p, n) in c.items():
        assert (out[s].pos_c, out[s].neg_c) == (p, n)
        assert abs(out[s].woe - woes[s]) < 1e-9
        assert abs(out[s].iv - iv) < 1e-6


def test_lateness_profile_fixture_is_ordered_and_machinery_is_exact(spark):
    """The synthetic fixture assigns event_id in timestamp order, so the
    audit must report a PERFECTLY ordered source (one bucket, watermark
    0 h) — and the two-phase prefix-max machinery must reproduce a
    literal high-water-mark scan on a hand-built OUT-OF-ORDER frame."""
    import datetime

    from proxyhouse_spark.operators.behavior import lateness_profile

    rows = registry.QUERIES["q_lateness_profile"](spark, SF_SMALL).collect()
    assert len(rows) == 1
    assert rows[0].late_hours == 0
    assert rows[0].cum_share == 1.0
    assert rows[0].watermark_hours == 0

    # hand-built disorder: event 3 arrives 2 hours stale, event 5 ten
    # minutes stale — across a phase-1 bucket boundary when LAT_BUCKET
    # is monkey-shrunk to 2, so the bucket-offset max is load-bearing
    base = datetime.datetime(2024, 1, 1, 12, 0, 0)

    def ev(eid, offset_min):
        return (eid, base + datetime.timedelta(minutes=offset_min), 1, "x",
                1.0, "{}")

    frame = spark.createDataFrame(
        [ev(0, 0), ev(1, 60), ev(2, 90), ev(3, -60), ev(4, 120),
         ev(5, 110)],
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string",
    )
    import tempfile

    import proxyhouse_spark.operators.behavior as B

    with tempfile.TemporaryDirectory() as d:
        frame.write.parquet(f"{d}/events.parquet")
        old = B.LAT_BUCKET
        B.LAT_BUCKET = 2
        try:
            out = {r.late_hours: r for r in lateness_profile(spark, d)
                   .collect()}
        finally:
            B.LAT_BUCKET = old
    # literal scan: HWM before e3 is 90min → e3 at -60min is 150min late
    # (2 full hours); e5 sees HWM 120min → 10min late (hour bucket 0)
    assert set(out) == {0, 2}
    assert out[2].n == 1
    assert out[0].n == 5  # four in-order + the 10-min-late one
    # 5/6 = 83% < 99% → the p99 cut lands at the 2-hour bucket; the
    # watermark readout is a per-result constant on every row
    assert out[0].watermark_hours == out[2].watermark_hours == 2


def test_novelty_matches_brute_force_first_seen(spark):
    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )

    def shingles(text):
        toks = text.split(" ")
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {text}

    first = {}
    sh = {}
    for d in sorted(docs, key=lambda d: d.doc_id):
        sh[d.doc_id] = shingles(d.text)
        for g in sh[d.doc_id]:
            first.setdefault(g, d.doc_id)
    out = {r.doc_id: r for r in registry.QUERIES["q_novelty"](
        spark, SF_SMALL).collect()}
    assert set(out) == set(sh)
    for doc_id, grams in sh.items():
        novel = sum(1 for g in grams if first[g] == doc_id)
        r = out[doc_id]
        assert r.n_grams == len(grams)
        assert r.n_novel == novel
        assert r.novelty_bp == 10000 * novel // len(grams)
    # the curve collapses over the corpus prefix: late docs on a closed
    # vocabulary introduce fewer grams than the very first doc
    first_doc = min(sh)
    assert out[first_doc].novelty_bp == 10000


def test_price_elasticity_matches_brute_force_ols(spark):
    import math
    from collections import defaultdict

    li = (
        spark.read.parquet(f"{SF_SMALL}/lineitem.parquet")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .collect()
    )
    brand = {
        r.p_partkey: r.p_brand
        for r in spark.read.parquet(f"{SF_SMALL}/part.parquet").collect()
    }
    pts = defaultdict(list)
    for r in li:
        x = round(
            math.log(round(r.l_extendedprice * 100))
            - math.log(round(r.l_quantity)), 6,
        )
        y = round(math.log(round(r.l_quantity)), 6)
        pts[brand[r.l_partkey]].append((x, y))
    out = {r.brand: r for r in registry.QUERIES["q_price_elasticity"](
        spark, SF_SMALL).collect()}
    assert set(out) == set(pts)
    for b, xy in pts.items():
        k = len(xy)
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxy = sum(x * y for x, y in xy)
        sxx = sum(x * x for x, _ in xy)
        syy = sum(y * y for _, y in xy)
        slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
        r2 = (k * sxy - sx * sy) ** 2 / ((k * sxx - sx * sx)
                                         * (k * syy - sy * sy))
        r = out[b]
        assert r.n == k
        assert abs(r.elasticity - slope) < 1e-4
        assert abs(r.r2 - r2) < 1e-4
        # demand slopes down: every brand's elasticity is negative on
        # this fixture (corr(ln q, ln p) ≈ -0.7 corpus-wide)
        assert r.elasticity < 0
        assert 0.0 <= r.r2 <= 1.0


def test_cross_validation_matches_brute_force(spark):
    from collections import Counter

    from proxyhouse_spark.operators.mleval import CV_FOLDS

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "lang", "text")
        .collect()
    )
    from proxyhouse_spark.functions.text import STOPWORDS

    scored = []
    for d in docs:
        toks = d.text.split(" ")
        hits = sum(1 for t in toks if t in STOPWORDS)
        scored.append((d.doc_id % CV_FOLDS,
                       10000 * hits // max(len(toks), 1),
                       d.lang == "en"))
    thresholds = sorted({s for _, s, _ in scored})

    def f1_at(rows, t):
        pp = sum(1 for _, s, _ in rows if s >= t)
        tp = sum(1 for _, s, p in rows if s >= t and p)
        pos = sum(1 for *_, p in rows if p)
        return round(2 * tp / (pp + pos), 6) if tp else 0.0

    out = {r.fold: r for r in registry.QUERIES["q_cross_validation"](
        spark, SF_SMALL).collect()}
    assert set(out) == set(range(CV_FOLDS))
    test_f1s = []
    for f in range(CV_FOLDS):
        train = [r for r in scored if r[0] != f]
        test = [r for r in scored if r[0] == f]
        best_t = max(thresholds,
                     key=lambda t: (f1_at(train, t), -t))
        r = out[f]
        assert r.threshold_bp == best_t
        assert r.train_f1 == f1_at(train, best_t)
        assert r.test_f1 == f1_at(test, best_t)
        assert r.gen_gap == round(r.train_f1 - r.test_f1, 6)
        test_f1s.append(r.test_f1)
    assert abs(out[0].mean_test_f1
               - round(sum(test_f1s) / CV_FOLDS, 6)) < 1e-9


def test_ngram_lm_interp_matches_brute_force(spark):
    import math
    from collections import Counter

    from proxyhouse_spark.operators.retrieval import EVAL_MOD, LM_LAMBDAS

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    )
    tr_bi, tr_un, tr_ug = Counter(), Counter(), Counter()
    ev = []
    nt = 0
    vocab = set()
    for d in docs:
        toks = d.text.split(" ")
        bgs = list(zip(toks, toks[1:]))
        if d.doc_id % EVAL_MOD == 0:
            ev.extend(bgs)
        else:
            for a, b in bgs:
                tr_bi[(a, b)] += 1
                tr_un[a] += 1
                tr_ug[b] += 1
                vocab.add(a)
                vocab.add(b)
                nt += 1
    v = len(vocab)
    out = {r.lam: r for r in registry.QUERIES["q_ngram_lm_interp"](
        spark, SF_SMALL).collect()}
    assert set(out) == set(LM_LAMBDAS)
    means = {}
    for lam in LM_LAMBDAS:
        s = 0.0
        for a, b in ev:
            p2 = (tr_bi[(a, b)] + 1.0) / (tr_un[a] + v)
            p1 = (tr_ug[b] + 1.0) / (nt + v)
            s += round(math.log10(lam * p2 + (1 - lam) * p1), 6)
        means[lam] = round(s / len(ev), 4)
        r = out[lam]
        assert r.n_eval == len(ev)
        assert abs(r.mean_lp - means[lam]) < 1e-4
        assert abs(r.perplexity - 10 ** -r.mean_lp) < 1e-3
    # the mixture must not be worse than its own components' envelope:
    # perplexities are finite and ordered sanely across the sweep
    assert all(out[l].perplexity > 1.0 for l in LM_LAMBDAS)


def test_growth_accounting_identities_and_brute_force(spark):
    from collections import defaultdict

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "ts")
        .collect()
    )
    days = defaultdict(set)
    for r in rows:
        epoch = r.ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                             second=0, microsecond=0)
        td = r.ts - epoch
        d = ((td.days * 86_400 + td.seconds) * 1_000_000
             + td.microseconds) // 86_400_000_000
        days[r.user_id].add(d)
    per_day = defaultdict(lambda: [0, 0, 0, 0, 0])  # act,new,ret,res,chu
    horizon = max(d for s in days.values() for d in s)
    for _, ds in days.items():
        sd = sorted(ds)
        for i, d in enumerate(sd):
            cell = per_day[d]
            cell[0] += 1
            if i == 0:
                cell[1] += 1
            elif sd[i - 1] == d - 1:
                cell[2] += 1
            else:
                cell[3] += 1
            nxt = sd[i + 1] if i + 1 < len(sd) else None
            if (nxt is None or nxt > d + 1) and d + 1 <= horizon:
                per_day[d + 1][4] += 1
    got = {r.day: r for r in registry.QUERIES["q_growth_accounting"](
        spark, SF_SMALL).collect()}
    assert set(got) == {d for d, c in per_day.items() if c[0] > 0}
    prev_active = {}
    for d, r in sorted(got.items()):
        e = per_day[d]
        assert (r.n_active, r.n_new, r.n_retained, r.n_resurrected,
                r.n_churned) == tuple(e)
        # ledger identities
        assert r.n_active == r.n_new + r.n_retained + r.n_resurrected
        if d - 1 in prev_active:
            assert r.n_retained == prev_active[d - 1] - r.n_churned
        prev_active[d] = r.n_active
    # churn AT the horizon is observable; beyond it is not — no output
    # day exceeds the horizon (the administrative cutoff)
    assert max(got) == horizon


def test_churn_label_is_temporally_leak_free(spark):
    from collections import defaultdict

    from proxyhouse_spark.operators.behavior import CHURN_WINDOW_DAYS

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "ts", "value", "event_type")
        .collect()
    )
    per_user = defaultdict(list)
    all_days = []
    for r in rows:
        epoch = r.ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                             second=0, microsecond=0)
        td = r.ts - epoch
        d = ((td.days * 86_400 + td.seconds) * 1_000_000
             + td.microseconds) // 86_400_000_000
        per_user[r.user_id].append((d, int(round(r.value * 1000)),
                                    r.event_type))
        all_days.append(d)
    boundary = max(all_days) - CHURN_WINDOW_DAYS
    got = {r.user_id: r for r in registry.QUERIES["q_churn_label"](
        spark, SF_SMALL).collect()}
    expect_users = {u for u, evs in per_user.items()
                    if any(d < boundary for d, _, _ in evs)}
    assert set(got) == expect_users
    for u in expect_users:
        before = [(d, v, t) for d, v, t in per_user[u] if d < boundary]
        after = [d for d, _, _ in per_user[u] if d >= boundary]
        r = got[u]
        assert r.n_events == len(before)
        assert r.milli_total == sum(v for _, v, _ in before)
        assert r.n_purchases == sum(1 for *_, t in before
                                    if t == "purchase")
        assert r.n_active_days == len({d for d, _, _ in before})
        assert r.recency_days == boundary - max(d for d, _, _ in before)
        assert r.churned == (0 if after else 1)


def test_hamming_sweep_cut3_reproduces_simhash_wide(spark):
    """The cumulative count at Hamming 3 must equal q_simhash_wide's
    pair count exactly — same candidates, same fingerprints."""
    sweep = registry.QUERIES["q_hamming_sweep"](spark, SF_SMALL).collect()
    wide_n = registry.QUERIES["q_simhash_wide"](spark, SF_SMALL).count()
    at3 = max((r.cum_pairs for r in sweep if r.hamming <= 3), default=0)
    assert at3 == wide_n
    # histogram sanity: cumulative is monotone and totals all candidates
    prev = 0
    for r in sorted(sweep, key=lambda r: r.hamming):
        assert r.n_pairs >= 1
        assert r.cum_pairs == prev + r.n_pairs
        prev = r.cum_pairs
        assert 0 <= r.hamming <= 64


def test_fulfillment_lag_matches_brute_force(spark):
    from collections import defaultdict

    orders = {
        r.o_orderkey: (r.o_orderdate, r.o_orderpriority)
        for r in spark.read.parquet(f"{SF_SMALL}/orders.parquet").collect()
    }
    lags = defaultdict(list)
    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_shipdate").collect()
    for r in li:
        od, prio = orders[r.l_orderkey]
        lags[prio].append((r.l_shipdate - od).days)
    got = {r.priority: r for r in registry.QUERIES["q_fulfillment_lag"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(lags)
    from proxyhouse_spark.operators.decision_support import PROMISE_DAYS

    for prio, ds_ in lags.items():
        ds_.sort()
        r = got[prio]
        assert r.n_lines == len(ds_)
        assert abs(r.p50_days - _interp_pct(ds_, 0.5)) < 1e-4
        assert abs(r.p90_days - _interp_pct(ds_, 0.9)) < 1e-4
        assert abs(r.p99_days - _interp_pct(ds_, 0.99)) < 1e-4
        late = sum(1 for d in ds_ if d > PROMISE_DAYS)
        assert r.late_bp == 10000 * late // len(ds_)


def test_embedding_drift_matches_numpy(spark):
    import numpy as np

    rows = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").collect()
    halves = {0: [], 1: []}
    for r in rows:
        v = np.round(np.array(r.embedding, dtype=np.float64) * 1_000_000)
        halves[r.vec_id % 2].append(v)
    a = np.mean(halves[0], axis=0) / 1_000_000
    b = np.mean(halves[1], axis=0) / 1_000_000
    cos = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    l2 = float(np.linalg.norm(a - b))
    shift = np.abs(a - b)
    [row] = registry.QUERIES["q_embedding_drift"](
        spark, SF_SMALL).collect()
    assert (row.n_a, row.n_b) == (len(halves[0]), len(halves[1]))
    assert abs(row.centroid_cos - cos) < 1e-5
    assert abs(row.l2_shift - l2) < 1e-5
    assert row.max_shift_dim == int(np.argmax(np.round(shift, 9)))
    assert abs(row.max_abs_shift - float(shift.max())) < 1e-6
    # slices are random halves of ONE zero-centered unit-vector cloud:
    # the centroids are both ≈ 0 (cosine = direction noise) and the L2
    # shift must sit at the SAMPLING-noise scale √(2/n) — materially
    # above it would be real drift, materially below impossible noise
    import math

    expected = math.sqrt(2 / row.n_a)
    assert 0.3 * expected < row.l2_shift < 3 * expected


def test_stream_growth_snapshot_equals_batch_and_is_replay_safe(spark):
    batch = sorted(
        tuple(r) for r in registry.QUERIES["q_growth_accounting"](
            spark, SF_SMALL).collect()
    )
    streamed = sorted(
        tuple(r) for r in registry.QUERIES["q_stream_growth"](
            spark, SF_SMALL).collect()
    )
    assert streamed == batch


def test_char_lang_id_matches_brute_force_classifier(spark):
    from collections import Counter, defaultdict

    docs = (
        spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        .select("doc_id", "lang", "text")
        .collect()
    )
    prof = defaultdict(Counter)
    for d in docs:
        if d.doc_id % 2 == 0:
            for i in range(len(d.text) - 1):
                prof[d.lang][d.text[i:i + 2]] += 1
    n2 = {l: sum(c * c for c in cnt.values()) for l, cnt in prof.items()}
    per_lang = defaultdict(lambda: [0, 0])
    for d in docs:
        if d.doc_id % 2 == 0:
            continue
        dv = Counter(d.text[i:i + 2] for i in range(len(d.text) - 1))
        keys = {}
        for l, cnt in prof.items():
            dot = sum(c * cnt[g] for g, c in dv.items() if g in cnt)
            keys[l] = dot * dot * 1_000_000 // n2[l]
        pred = min(keys, key=lambda l: (-keys[l], l))
        cell = per_lang[d.lang]
        cell[0] += 1
        cell[1] += pred == d.lang
    got = {r.true_lang: r for r in registry.QUERIES["q_char_lang_id"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(per_lang)
    total_n = total_c = 0
    for l, (n, c) in per_lang.items():
        r = got[l]
        assert (r.n_test, r.n_correct) == (n, c)
        assert r.accuracy_bp == 10000 * c // n
        total_n += n
        total_c += c
    # the fixture's language labels carry NO text signal (one shared
    # word distribution — the stopword scorer's AUC is ≈0.44), so the
    # held-out accuracy must land AT the 1/k random baseline, inside a
    # generous binomial band — the eval correctly catching a useless
    # model is the pinned behavior
    assert 0.1 < total_c / total_n < 0.35


def test_basket_rules_matches_brute_force(spark):
    from collections import Counter, defaultdict

    from proxyhouse_spark.operators.behavior import BASKET_TOP

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_partkey").collect()
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    co = Counter()
    pc = Counter()
    for parts in baskets.values():
        for p in parts:
            pc[p] += 1
        sp = sorted(parts)
        for i, a in enumerate(sp):
            for b in sp[i + 1:]:
                co[(a, b)] += 1
    n = len(baskets)
    top = sorted(co.items(), key=lambda kv: (-kv[1], kv[0]))[:BASKET_TOP]
    got = {(r.antecedent, r.consequent): r
           for r in registry.QUERIES["q_basket_rules"](
               spark, SF_SMALL).collect()}
    assert len(got) == 2 * len(top)
    for (a, b), c in top:
        for ant, con in ((a, b), (b, a)):
            r = got[(ant, con)]
            assert r.co == c
            assert r.support_bp == 10000 * c // n
            assert r.confidence_bp == 10000 * c // pc[ant]
            assert r.lift_bp == 10000 * c // max(
                1, pc[ant] * pc[con] // n)
    # the point of direction: at least one top pair has asymmetric
    # confidence while lift is symmetric by construction
    asym = [(a, b) for (a, b), _ in top
            if got[(a, b)].confidence_bp != got[(b, a)].confidence_bp]
    assert asym, "all confidences symmetric — fixture unexpectedly uniform"
    for (a, b), _ in top:
        assert got[(a, b)].lift_bp == got[(b, a)].lift_bp


def test_split_half_matches_numpy(spark):
    import numpy as np

    from proxyhouse_spark.functions.text import STOPWORDS

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "text").collect()

    def quality(toks):
        # mirror functions/text.py integer basis-point blend
        ntoks = len(toks)
        text = " ".join(toks)
        ndist = len(set(toks))
        nstop = sum(1 for t in toks if t in STOPWORDS)
        length = 3000 * min(ntoks, 100) // 100
        diversity = 3000 * ndist // ntoks
        shape = min(2000, 2000 * (len(text) - ntoks + 1) // (8 * ntoks))
        stop = 2000 - 2000 * nstop // ntoks
        return length + diversity + shape + stop

    xs, ys = [], []
    for d in docs:
        toks = d.text.split(" ")
        ev = toks[0::2]
        od = toks[1::2]
        if ev and od:
            xs.append(quality(ev))
            ys.append(quality(od))
    r = float(np.corrcoef(xs, ys)[0, 1])
    [row] = registry.QUERIES["q_split_half"](spark, SF_SMALL).collect()
    assert row.n == len(xs)
    assert abs(row.half_corr - r) < 1e-6
    assert abs(row.spearman_brown - 2 * r / (1 + r)) < 1e-6


def test_conformal_matches_brute_force_and_covers(spark):
    import math
    from collections import defaultdict

    from proxyhouse_spark.operators.mleval import CONF_ALPHA_BP

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("ts", "value")
        .collect()
    )
    folds = defaultdict(list)
    for r in rows:
        epoch = r.ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                             second=0, microsecond=0)
        td = r.ts - epoch
        d = ((td.days * 86_400 + td.seconds) * 1_000_000
             + td.microseconds) // 86_400_000_000
        folds[d % 3].append(((d + 4) % 7, int(round(r.value * 1000))))
    sm = defaultdict(lambda: [0, 0])
    for dow, y in folds[0]:
        sm[dow][0] += y
        sm[dow][1] += 1
    yhat = {dow: s // n for dow, (s, n) in sm.items()}
    calib = sorted(abs(y - yhat[dow]) for dow, y in folds[1])
    n = len(calib)
    k = math.ceil((10000 - CONF_ALPHA_BP) * (n + 1) / 10000)
    q = calib[k - 1]
    test = [abs(y - yhat[dow]) for dow, y in folds[2]]
    covered = sum(1 for r_ in test if r_ <= q)
    [row] = registry.QUERIES["q_conformal"](spark, SF_SMALL).collect()
    assert (row.n_calib, row.conformal_rank) == (n, k)
    assert row.q_milli == q
    assert row.n_test == len(test)
    assert row.coverage_bp == 10000 * covered // len(test)
    # the conformal guarantee on exchangeable folds: coverage within
    # binomial noise of the target (generous 3σ band)
    p = (10000 - CONF_ALPHA_BP) / 10000
    sd = math.sqrt(p * (1 - p) / len(test))
    assert abs(row.coverage_bp / 10000 - p) < 3 * sd + 1.0 / len(test)


def test_repurchase_gap_matches_brute_force(spark):
    from collections import defaultdict

    orders = spark.read.parquet(f"{SF_SMALL}/orders.parquet").select(
        "o_custkey", "o_orderkey", "o_orderdate").collect()
    seg = {
        r.c_custkey: r.c_mktsegment
        for r in spark.read.parquet(f"{SF_SMALL}/customer.parquet")
        .collect()
    }
    by_cust = defaultdict(list)
    for r in orders:
        epoch = r.o_orderdate.replace(year=1970, month=1, day=1)
        by_cust[r.o_custkey].append(
            ((r.o_orderdate - epoch).days, r.o_orderkey))
    gaps = defaultdict(list)
    singles = defaultdict(int)
    custs = defaultdict(set)
    for ck, ds_ in by_cust.items():
        s = seg[ck]
        custs[s].add(ck)
        ds_.sort()
        if len(ds_) == 1:
            singles[s] += 1
        for (a, _), (b, _) in zip(ds_, ds_[1:]):
            gaps[s].append(b - a)
    got = {r.segment: r for r in registry.QUERIES["q_repurchase_gap"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(custs)
    for s in custs:
        r = got[s]
        assert r.n_customers == len(custs[s])
        assert r.n_single_order == singles[s]
        assert r.n_gaps == len(gaps[s])
        gs = sorted(gaps[s])
        for col, q in (("p25_days", 0.25), ("p50_days", 0.5),
                       ("p90_days", 0.9)):
            assert abs(getattr(r, col) - _interp_pct(gs, q)) < 1e-4


def test_attribution_linear_matches_brute_force_and_conserves_cents(spark):
    from collections import defaultdict

    from proxyhouse_spark.operators.behavior import ATTRIBUTION_WINDOW_S

    rows = (
        spark.read.parquet(f"{SF_SMALL}/events.parquet")
        .select("user_id", "event_id", "event_type", "ts", "value")
        .collect()
    )

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    by_user = defaultdict(lambda: {"click": [], "purchase": []})
    for r in rows:
        if r.event_type in ("click", "purchase"):
            by_user[r.user_id][r.event_type].append(
                (us(r.ts), r.event_id, int(round(r.value * 100))))
    win = ATTRIBUTION_WINDOW_S * 1_000_000
    per_day = defaultdict(lambda: [0, set(), 0])  # touches, clicks, cents
    total_attributed = 0
    for u, evs in by_user.items():
        for pt, _, cents in evs["purchase"]:
            touches = [(ct, cid) for ct, cid, _ in evs["click"]
                       if pt - win <= ct <= pt]
            if not touches:
                continue
            total_attributed += cents
            n = len(touches)
            last = max(touches)  # (t, id) — the tie discipline
            for ct, cid in touches:
                credit = (cents - (n - 1) * (cents // n)
                          if (ct, cid) == last else cents // n)
                cell = per_day[ct // 86_400_000_000]
                cell[0] += 1
                cell[1].add(cid)
                cell[2] += credit
    got = {r.day: r for r in registry.QUERIES["q_attribution_linear"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(per_day)
    for d, (nt, clicks, cents) in per_day.items():
        r = got[d]
        assert (r.n_touches, r.n_clicks, r.credited_cents) == (
            nt, len(clicks), cents)
    # conservation to the cent: credit sums to attributed revenue exactly
    assert sum(r.credited_cents for r in got.values()) == total_attributed


def _daily_frames(spark):
    """Brute-force (event_type, day) -> (count, cents) from the raw fixture."""
    from collections import defaultdict

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "ts", "event_type", "value").collect()

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    daily = defaultdict(lambda: [0, 0])
    for r in rows:
        cell = daily[(r.event_type, us(r.ts) // 86_400_000_000)]
        cell[0] += 1
        cell[1] += int(round(r.value * 100))
    return daily


def test_rolling_median_matches_brute_force(spark):
    daily = _daily_frames(spark)
    got = {(r.event_type, r.day): r for r in registry.QUERIES[
        "q_rolling_median"](spark, SF_SMALL).collect()}
    assert set(got) == set(daily)  # one output row per observed (type, day)
    for (et, d), (n, _) in daily.items():
        window = sorted(daily[(et, k)][0]
                        for k in range(d - 6, d + 1) if (et, k) in daily)
        r = got[(et, d)]
        assert r.n == n
        assert r.n_days == len(window)
        assert abs(r.med7 - _interp_pct(window, 0.5)) < 1e-9


def test_changepoint_maximizes_sse_gain(spark):
    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (n, _) in daily.items():
        by_type.setdefault(et, []).append((d, n))
    got = {r.event_type: r for r in registry.QUERIES["q_changepoint"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        ns = [n for _, n in series]
        tot, nd = sum(ns), len(ns)
        best = None
        s1 = 0
        for i in range(1, nd):
            s1 += ns[i - 1]
            g = (float(s1) * s1 / i + float(tot - s1) * (tot - s1) / (nd - i)
                 - float(tot) * tot / nd)
            if best is None or g > best[0] + 1e-12:
                best = (g, series[i - 1][0], s1, i)
        g, day, s1, i = best
        r = got[et]
        assert r.split_day == day
        assert r.n_days == nd
        assert abs(r.gain_r6 - g) < 1e-5
        # exact integer ppm means on both segments
        assert r.mean_before_ppm == s1 * 1_000_000 // i
        assert r.mean_after_ppm == (tot - s1) * 1_000_000 // (nd - i)


def test_ewma_matches_sequential_recurrence(spark):
    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (_, cents) in daily.items():
        by_type.setdefault(et, []).append((d, cents))
    got = {(r.event_type, r.day): r for r in registry.QUERIES["q_ewma"](
        spark, SF_SMALL).collect()}
    assert set(got) == {(et, d) for (et, d) in daily}
    for et, series in by_type.items():
        series.sort()
        acc = None
        for d, cents in series:
            acc = float(cents) if acc is None else acc + 0.25 * (cents - acc)
            r = got[(et, d)]
            assert r.cents == cents
            assert abs(r.ewma_r6 - acc) < 1e-5, (et, d)


def test_mann_kendall_matches_brute_force(spark):
    from collections import Counter
    from math import sqrt

    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (n, _) in daily.items():
        by_type.setdefault(et, []).append((d, n))
    got = {r.event_type: r for r in registry.QUERIES["q_mann_kendall"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        ns = [n for _, n in series]
        s = sum((b > a) - (b < a)
                for i, a in enumerate(ns) for b in ns[i + 1:])
        nd = len(ns)
        tie = sum(t * (t - 1) * (2 * t + 5)
                  for t in Counter(ns).values())
        var18 = nd * (nd - 1) * (2 * nd + 5) - tie
        r = got[et]
        assert (r.n_days, r.s, r.var18) == (nd, s, var18)
        z = 0.0 if var18 == 0 else (s - (s > 0) + (s < 0)) / sqrt(var18 / 18)
        assert abs(r.z_r6 - z) < 1e-5


def test_heavy_hitters_cms_is_one_sided_and_exact(spark):
    import hashlib
    from collections import Counter

    from proxyhouse_spark.operators.textops import (
        CMS_DEPTH, CMS_TOPK, CMS_WIDTH)

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "text").collect()
    true = Counter(t for r in docs for t in r.text.split(" "))

    def bucket(r, tok):
        h = hashlib.md5(f"{r}#{tok}".encode()).hexdigest()[:12]
        return int(h, 16) % CMS_WIDTH

    counters = Counter()
    for tok, n in true.items():
        for r in range(CMS_DEPTH):
            counters[(r, bucket(r, tok))] += n
    est = {tok: min(counters[(r, bucket(r, tok))] for r in range(CMS_DEPTH))
           for tok in true}
    want = sorted(true, key=lambda t: (-est[t], -true[t], t))[:CMS_TOPK]
    got = registry.QUERIES["q_heavy_hitters_cms"](spark, SF_SMALL).collect()
    assert [r.tok for r in got] == want
    for r in got:
        assert r.true_n == true[r.tok]
        assert r.est_n == est[r.tok]
        # the CMS contract: one-sided error, never an underestimate
        assert r.overestimate == r.est_n - r.true_n >= 0


def test_feature_hashing_matches_brute_force(spark):
    import hashlib
    from collections import Counter, defaultdict

    from proxyhouse_spark.operators.textops import FH_DIM

    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text").collect()

    def h(prefix, tok):
        return int(hashlib.md5(f"{prefix}#{tok}".encode())
                   .hexdigest()[:12], 16)

    got = {r.doc_id: r for r in registry.QUERIES["q_feature_hashing"](
        spark, SF_SMALL).collect()}
    assert set(got) == {r.doc_id for r in docs}
    for d in docs:
        vec = defaultdict(int)
        for tok in d.text.split(" "):
            vec[h("b", tok) % FH_DIM] += 1 if h("s", tok) % 2 == 0 else -1
        r = got[d.doc_id]
        assert r.nnz == sum(1 for v in vec.values() if v != 0)
        assert r.l1 == sum(abs(v) for v in vec.values())
        assert r.l2sq == sum(v * v for v in vec.values())


def test_isotonic_calibration_is_pav_and_monotone(spark):
    rows = sorted(registry.QUERIES["q_isotonic_calibration"](
        spark, SF_SMALL).collect(), key=lambda r: r.bin)
    # brute-force PAV by pooling adjacent violators on the observed bins
    blocks = [[r.n, r.n_pos] for r in rows]
    merged = []
    for b in blocks:
        merged.append(list(b))
        while len(merged) > 1 and (merged[-2][1] * merged[-1][0]
                                   > merged[-1][1] * merged[-2][0]):
            n2, p2 = merged.pop()
            merged[-1][0] += n2
            merged[-1][1] += p2
    fitted = []
    for n, p in merged:
        # expand the pooled block back over its member bins
        acc = 0
        i = 0
        while acc < n:
            acc += rows[len(fitted)].n
            fitted.append(p / n)
            i += 1
    for r, f in zip(rows, fitted):
        assert abs(r.iso_r6 - f) < 1e-5, (r.bin, r.iso_r6, f)
    # the defining property: the fit is non-decreasing in the score
    for a, b in zip(rows, rows[1:]):
        assert a.iso_r6 <= b.iso_r6 + 1e-12


def test_simpsons_audit_matches_brute_force_signs(spark):
    from collections import defaultdict

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_partkey", "l_quantity", "l_extendedprice").collect()
    brand = {r.p_partkey: r.p_brand for r in spark.read.parquet(
        f"{SF_SMALL}/part.parquet").collect()}
    by_brand = defaultdict(list)
    for r in li:
        x = int(round(r.l_quantity))
        y = int(round(r.l_extendedprice * 1_000_000 / r.l_quantity))
        by_brand[brand[r.l_partkey]].append((x, y))

    def cov_num(pts):
        n = len(pts)
        sx = sum(x for x, _ in pts)
        sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        return n * sxy - sx * sy

    pooled = [p for pts in by_brand.values() for p in pts]
    pool_sign = (cov_num(pooled) > 0) - (cov_num(pooled) < 0)
    got = {r.brand: r for r in registry.QUERIES["q_simpsons_audit"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_brand)
    for b, pts in by_brand.items():
        r = got[b]
        c = cov_num(pts)
        assert r.n == len(pts)
        assert r.within_sign == (c > 0) - (c < 0)
        assert r.pooled_sign == pool_sign
        assert r.flipped == (r.within_sign != r.pooled_sign)


def test_stream_changepoint_snapshot_equals_batch(spark):
    batch = sorted(
        tuple(r) for r in registry.QUERIES["q_changepoint"](
            spark, SF_SMALL).collect()
    )
    streamed = sorted(
        tuple(r) for r in registry.QUERIES["q_stream_changepoint"](
            spark, SF_SMALL).collect()
    )
    assert streamed == batch


def test_activity_streaks_matches_brute_force(spark):
    from collections import Counter, defaultdict

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "user_id", "ts").collect()

    def day(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return ((td.days * 86_400 + td.seconds) * 1_000_000
                + td.microseconds) // 86_400_000_000

    by_user = defaultdict(set)
    for r in rows:
        by_user[r.user_id].add(day(r.ts))
    hist = Counter()
    agg = defaultdict(lambda: [0, 0])  # max_streak -> [n_streaks, days]
    for days in by_user.values():
        ds = sorted(days)
        streaks = []
        cur = 1
        for a, b in zip(ds, ds[1:]):
            if b == a + 1:
                cur += 1
            else:
                streaks.append(cur)
                cur = 1
        streaks.append(cur)
        m = max(streaks)
        hist[m] += 1
        agg[m][0] += len(streaks)
        agg[m][1] += len(ds)
    got = {r.max_streak: r for r in registry.QUERIES["q_activity_streaks"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(hist)
    for m, n in hist.items():
        r = got[m]
        assert (r.n_users, r.n_streaks, r.active_days) == (
            n, agg[m][0], agg[m][1])


def test_er_links_are_mutual_best_and_one_to_one(spark):
    from collections import defaultdict

    cand = registry.QUERIES["q_fuzzy_match"](spark, SF_SMALL).collect()
    best = {}
    ncand = defaultdict(int)
    for r in cand:
        for s, d in ((r.doc_a, r.doc_b), (r.doc_b, r.doc_a)):
            ncand[s] += 1
            k = (r.dist, d)
            if s not in best or k < best[s]:
                best[s] = k
    want = set()
    for s, (dist, d) in best.items():
        if d in best and best[d][1] == s and s < d:
            want.add((s, d, dist))
    got = registry.QUERIES["q_er_links"](spark, SF_SMALL).collect()
    assert {(r.doc_a, r.doc_b, r.dist) for r in got} == want
    # 1:1 contract: no record appears in two links
    seen = set()
    for r in got:
        assert r.doc_a not in seen and r.doc_b not in seen
        seen.add(r.doc_a)
        seen.add(r.doc_b)
        assert r.cand_a == ncand[r.doc_a]
        assert r.cand_b == ncand[r.doc_b]


def test_er_minenc_guard_bounds(spark):
    """VERDICT r10 #7: the (dist, dst) -> dist*1e10 + dst min-encode must
    fail loudly (not silently corrupt the argmin) when a doc id reaches
    10^10 or a distance would overflow the BIGINT packing."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from proxyhouse_spark.operators.dedup import ER_ENC, _er_minenc_sql

    ok = spark.sql(
        f"SELECT {_er_minenc_sql('3', '42')} AS k"
    ).collect()[0].k
    assert ok == 3 * ER_ENC + 42
    for dist, dst in (("1", str(ER_ENC)), ("1000000000", "1"), ("-1", "1")):
        with pytest.raises((Py4JJavaError, Exception)):
            spark.sql(f"SELECT {_er_minenc_sql(dist, dst)} AS k").collect()


def test_preference_pairs_are_stratum_extremes_with_exact_tiebreak(spark):
    from collections import defaultdict

    quals = {r.doc_id: r.quality for r in registry.QUERIES[
        "q_quality_score"](spark, SF_SMALL).collect()}
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "lang", "source").collect()
    strata = defaultdict(list)
    for d in docs:
        strata[(d.lang, d.source)].append((quals[d.doc_id], d.doc_id))
    got = {(r.lang, r.source): r for r in registry.QUERIES[
        "q_preference_pairs"](spark, SF_SMALL).collect()}
    assert set(got) == set(strata)
    for key, members in strata.items():
        r = got[key]
        # chosen: max quality, LOWEST doc on ties; rejected: min quality,
        # lowest doc on ties
        chosen = max(members, key=lambda t: (t[0], -t[1]))
        rejected = min(members)
        assert (r.chosen_doc, r.chosen_q) == (chosen[1], chosen[0])
        assert (r.rejected_doc, r.rejected_q) == (rejected[1], rejected[0])
        assert r.margin == chosen[0] - rejected[0] >= 0
        assert r.n_docs == len(members)


def test_negative_sampling_contract(spark):
    import hashlib
    from collections import defaultdict

    from proxyhouse_spark.operators.similarity import NEG_BUCKETS, NEG_K

    emb = spark.read.parquet(f"{SF_SMALL}/embeddings.parquet").select(
        "vec_id", "label").collect()

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    bucket = {r.vec_id: md5i(str(r.vec_id)) % NEG_BUCKETS for r in emb}
    label = {r.vec_id: r.label for r in emb}
    # per (bucket, excluded label): the min-full-md5 other-label candidate
    rep = {}
    for r in emb:
        h = hashlib.md5(f"{r.vec_id}#cand".encode()).hexdigest()
        for excl in {x.label for x in emb}:
            if r.label == excl:
                continue
            k = (bucket[r.vec_id], excl)
            if k not in rep or h < rep[k][0]:
                rep[k] = (h, r.vec_id)
    want = {}
    dropped = 0
    for r in emb:
        for k in range(NEG_K):
            slot = md5i(f"{r.vec_id}#{k}") % NEG_BUCKETS
            cell = rep.get((slot, r.label))
            if cell is None:
                dropped += 1
                continue
            want[(r.vec_id, k)] = cell[1]
    got = {(r.anchor_id, r.k): r for r in registry.QUERIES[
        "q_negative_sampling"](spark, SF_SMALL).collect()}
    assert set(got) == set(want)
    for (a, k), neg in want.items():
        r = got[(a, k)]
        assert r.neg_id == neg
        assert r.neg_label == label[neg]
        # the defining contract: a negative never shares the anchor label
        assert r.neg_label != r.anchor_label


def test_ipf_raking_matches_brute_force_and_tightens_margins(spark):
    from collections import Counter, defaultdict

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_type", "ts").collect()

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    ts_us = [us(r.ts) for r in rows]
    mid = (min(ts_us) + max(ts_us)) // 2
    cells = Counter()
    tr, tc = Counter(), Counter()
    for r, t in zip(rows, ts_us):
        dow = (t // 86_400_000_000 + 4) % 7
        if t <= mid:
            cells[(r.event_type, dow)] += 1
        else:
            tr[r.event_type] += 1
            tc[dow] += 1
    w = {k: float(n) for k, n in cells.items()}
    for axis in ("row", "col") * 3:
        marg = defaultdict(float)
        for (et, dow), v in w.items():
            marg[et if axis == "row" else dow] += v
        for k in w:
            key = k[0] if axis == "row" else k[1]
            tgt = (tr if axis == "row" else tc)[key]
            w[k] = round(w[k] * tgt / marg[key], 9)
    got = {(r.event_type, r.dow): r for r in registry.QUERIES[
        "q_ipf_raking"](spark, SF_SMALL).collect()}
    assert set(got) == set(cells)
    for k, n in cells.items():
        r = got[k]
        assert r.n == n
        assert abs(r.fitted_r6 - w[k]) < 1e-5, k
        assert abs(r.weight_r6 - w[k] / n) < 1e-5
    # raking must land the LAST-scaled margin (dow) exactly on target
    fit_c = defaultdict(float)
    for (et, dow), v in w.items():
        fit_c[dow] += v
    for dow, tgt in tc.items():
        if dow in fit_c:  # a margin absent from period 1 cannot be raked
            assert abs(fit_c[dow] - tgt) < 1e-3


def test_heavy_changers_matches_brute_force(spark):
    from collections import Counter

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "user_id", "ts").collect()

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    ts_us = [us(r.ts) for r in rows]
    mid = (min(ts_us) + max(ts_us)) // 2
    first, second = Counter(), Counter()
    for r, t in zip(rows, ts_us):
        (first if t <= mid else second)[r.user_id] += 1
    users = set(first) | set(second)
    ranked = sorted(
        ((abs(first[u] - second[u]), u) for u in users),
        key=lambda t: (-t[0], t[1]))
    from proxyhouse_spark.operators.behavior import HEAVY_CHANGERS_K

    got = registry.QUERIES["q_heavy_changers"](spark, SF_SMALL).collect()
    assert [(r.delta, r.user_id) for r in got] == ranked[:HEAVY_CHANGERS_K]
    for r in got:
        assert (r.n_first, r.n_second) == (first[r.user_id],
                                           second[r.user_id])


def test_knn_rerank_is_exact_topk_of_pq_shortlist(spark):
    import numpy as np

    from proxyhouse_spark.operators.similarity import (
        K, PROBE_VEC_ID, RERANK_C)

    emb = {r.vec_id: (np.array(r.embedding, dtype=np.float64), r.label)
           for r in spark.read.parquet(
               f"{SF_SMALL}/embeddings.parquet").collect()}
    # the similarity family runs over the injected near-dup corpus
    # (sources/corpus.py): vec_id % 25 == 0 gains a +1e6 shifted copy
    for vid in [v for v in emb if v % 25 == 0]:
        v, lab = emb[vid]
        shifted = v.copy()
        shifted[0] += 0.05
        emb[vid + 1_000_000] = (shifted, lab)
    got = registry.QUERIES["q_knn_rerank"](spark, SF_SMALL).collect()
    assert len(got) == K
    p = emb[PROBE_VEC_ID][0]

    def cos(v):
        return float(v @ p / (np.linalg.norm(v) * np.linalg.norm(p)))

    # every returned row carries the TRUE cosine, exactly
    for r in got:
        assert abs(r.cos_sim - cos(emb[r.vec_id][0])) < 1e-5
        assert r.label == emb[r.vec_id][1]
        assert r.vec_id != PROBE_VEC_ID
    # the output is ordered by the exact metric (rerank happened), and
    # any disagreement with the ADC ordering is VISIBLE in approx_d
    sims = [r.cos_sim for r in got]
    assert sims == sorted(sims, reverse=True)
    # two-stage contract: results are top-K *of the shortlist*, so each
    # result's exact cosine must be >= the K-th best within the shortlist
    # (weaker than global top-K by design: that gap is what ann_recall
    # audits; here we pin the mechanics, not the recall)
    assert len({r.vec_id for r in got}) == K


def test_drawdown_matches_brute_force(spark):
    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (_, cents) in daily.items():
        by_type.setdefault(et, []).append((d, cents))
    got = {r.event_type: r for r in registry.QUERIES["q_drawdown"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        cum = peak = 0
        best = None  # (dd, -day) max with earliest-day tie
        peak_at_trough = None
        for d, cents in series:
            cum += cents
            peak = max(peak, cum)
            dd = peak - cum
            if best is None or dd > best[0]:
                best = (dd, d, peak)
        r = got[et]
        assert r.n_days == len(series)
        assert r.max_dd_cents == best[0]
        assert r.trough_day == best[1]
        assert r.dd_bp == best[0] * 10000 // max(best[2], 1)


def _planar_points(spark):
    import hashlib

    from proxyhouse_spark.operators.spatial import WORLD_M

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    return {
        r.c_custkey: (md5i(f"{r.c_custkey}#x") % WORLD_M,
                      md5i(f"{r.c_custkey}#y") % WORLD_M)
        for r in spark.read.parquet(
            f"{SF_SMALL}/customer.parquet").select("c_custkey").collect()
    }


def test_spatial_join_matches_quadratic_brute_force(spark):
    from proxyhouse_spark.operators.spatial import RADIUS_M

    pts = _planar_points(spark)
    ids = sorted(pts)
    want = {}
    for i, a in enumerate(ids):
        xa, ya = pts[a]
        for b in ids[i + 1:]:
            xb, yb = pts[b]
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= RADIUS_M * RADIUS_M:
                want[(a, b)] = d2
    got = registry.QUERIES["q_spatial_join"](spark, SF_SMALL).collect()
    assert {(r.id_a, r.id_b): r.d2 for r in got} == want
    assert want, "fixture produced no within-radius pairs"


def test_spatial_nn_is_argmin_with_null_isolates(spark):
    from proxyhouse_spark.operators.spatial import RADIUS_M

    pts = _planar_points(spark)
    got = {r.id: r for r in registry.QUERIES["q_spatial_nn"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(pts)  # every point is a row, isolated included
    r2 = RADIUS_M * RADIUS_M
    saw_null = saw_hit = False
    for a, (xa, ya) in pts.items():
        cands = []
        for b, (xb, yb) in pts.items():
            if b == a:
                continue
            d2 = (xa - xb) ** 2 + (ya - yb) ** 2
            if d2 <= r2:
                cands.append((d2, b))
        r = got[a]
        assert (r.x, r.y) == (xa, ya)
        if cands:
            d2, b = min(cands)
            assert (r.neighbor_id, r.d2) == (b, d2)
            saw_hit = True
        else:
            assert r.neighbor_id is None and r.d2 is None
            saw_null = True
    assert saw_hit and saw_null  # both contract branches exercised


def test_morans_i_matches_brute_force_and_reads_random(spark):
    from collections import Counter

    from proxyhouse_spark.operators.spatial import RADIUS_M

    pts = _planar_points(spark)
    cells = Counter((x // RADIUS_M, y // RADIUS_M) for x, y in pts.values())
    nc = len(cells)
    s = sum(cells.values())
    cen = {k: nc * n - s for k, n in cells.items()}
    sw = w = 0
    for (cx, cy), c in cen.items():
        for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
            nb = (cx + dx, cy + dy)
            if nb in cen:
                sw += c * cen[nb]
                w += 1
    sv = sum(c * c for c in cen.values())
    want = nc * sw / (w * sv)
    r = registry.QUERIES["q_morans_i"](spark, SF_SMALL).collect()[0]
    assert (r.n_cells, r.n_adjacencies) == (nc, w)
    assert abs(r.morans_i - want) < 1e-5
    assert abs(r.null_expectation - (-1 / (nc - 1))) < 1e-6
    # md5 placement is spatially random: I must sit near the null value,
    # far from the |I| ~ 1 clustering/dispersion extremes
    assert abs(r.morans_i - r.null_expectation) < 0.2


def test_stream_spatial_accumulates_the_batch_pair_set(spark):
    batch = sorted(
        tuple(r) for r in registry.QUERIES["q_spatial_join"](
            spark, SF_SMALL).collect()
    )
    streamed = sorted(
        tuple(r) for r in registry.QUERIES["q_stream_spatial"](
            spark, SF_SMALL).collect()
    )
    assert streamed == batch
    assert batch  # non-vacuous: the radius yields real pairs at sf0.001


def test_rate_test_matches_brute_force(spark):
    from collections import Counter
    from math import sqrt

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_type", "ts").collect()

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    ts_us = [us(r.ts) for r in rows]
    mid = (min(ts_us) + max(ts_us)) // 2
    c1, c2 = Counter(), Counter()
    for r, t in zip(rows, ts_us):
        (c1 if t <= mid else c2)[r.event_type] += 1
    got = {r.event_type: r for r in registry.QUERIES["q_rate_test"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(c1) | set(c2)
    for et in got:
        r = got[et]
        assert (r.c1, r.c2) == (c1[et], c2[et])
        assert r.ratio_bp == c2[et] * 10000 // max(c1[et], 1)
        z = (sqrt(c2[et]) - sqrt(c1[et])) * sqrt(2)
        assert abs(r.z_r6 - z) < 1e-5


def test_holt_linear_matches_sequential_recurrence(spark):
    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (_, cents) in daily.items():
        by_type.setdefault(et, []).append((d, cents))
    got = {r.event_type: r for r in registry.QUERIES["q_holt_linear"](
        spark, SF_SMALL).collect()}
    want_types = {et for et, s in by_type.items() if len(s) >= 2}
    assert set(got) == want_types
    for et in want_types:
        xs = [float(c) for _, c in sorted(by_type[et])]
        l, b = xs[1], xs[1] - xs[0]
        for x in xs[2:]:
            nl = 0.25 * x + 0.75 * (l + b)
            b = 0.5 * (nl - l) + 0.5 * b
            l = nl
        r = got[et]
        assert r.n_days == len(xs)
        assert abs(r.level_r6 - l) < 1e-5
        assert abs(r.trend_r6 - b) < 1e-5
        assert abs(r.forecast_r6 - (l + b)) < 1e-5


def test_gapfill_interp_matches_brute_force(spark):
    from collections import defaultdict

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_type", "ts", "value").collect()

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    hourly = defaultdict(int)
    for r in rows:
        hourly[(r.event_type, us(r.ts) // 3_600_000_000)] += int(
            round(r.value * 100))
    want = {k: (c, False) for k, c in hourly.items()}
    by_type = defaultdict(list)
    for (et, h), c in hourly.items():
        by_type[et].append((h, c))
    n_interp = 0
    for et, series in by_type.items():
        series.sort()
        for (h1, c1), (h2, c2) in zip(series, series[1:]):
            gap = h2 - h1
            for k in range(1, gap):
                d = c2 - c1
                sign = (d > 0) - (d < 0)
                want[(et, h1 + k)] = (c1 + sign * (abs(d) * k // gap), True)
                n_interp += 1
    got = {(r.event_type, r.hour): r for r in registry.QUERIES[
        "q_gapfill_interp"](spark, SF_SMALL).collect()}
    assert set(got) == set(want)
    for k, (c, interp) in want.items():
        assert (got[k].cents, got[k].interpolated) == (c, interp), k
    assert n_interp > 0  # the hourly grid really has gaps at sf0.001


def test_seasonal_decompose_matches_brute_force_and_reconstructs(spark):
    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (n, _) in daily.items():
        by_type.setdefault(et, {})[d] = n
    got = {(r.event_type, r.day): r for r in registry.QUERIES[
        "q_seasonal_decompose"](spark, SF_SMALL).collect()}
    assert set(got) == set(daily)
    for et, series in by_type.items():
        trend = {}
        for d in series:
            win = [series[k] for k in range(d - 3, d + 4) if k in series]
            trend[d] = (sum(win), len(win))
        det = {d: series[d] - num / den
               for d, (num, den) in trend.items()}
        seas = {}
        for d, v in det.items():
            seas.setdefault((d + 4) % 7, []).append(round(v, 9))
        seas = {dow: sum(vs) / len(vs) for dow, vs in seas.items()}
        for d in series:
            r = got[(et, d)]
            num, den = trend[d]
            assert r.n == series[d]
            assert r.n_win == den
            assert r.dow == (d + 4) % 7
            assert abs(r.trend_r6 - num / den) < 1e-5
            assert abs(r.seasonal_r6 - seas[(d + 4) % 7]) < 1e-5
            # the decomposition must reconstruct the observation
            assert abs(r.trend_r6 + r.seasonal_r6 + r.resid_r6
                       - series[d]) < 1e-4


def test_lsh_s_curve_jaccards_and_shape(spark):
    import hashlib
    from collections import defaultdict

    from proxyhouse_spark.operators.dedup import SC_PAIRS, _SC_MUT_BASE

    docs = {r.doc_id: r.text for r in spark.read.parquet(
        f"{SF_SMALL}/documents.parquet").collect()}
    n = len(docs)

    def md5i(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    def shingles(text):
        toks = text.split(" ")
        if len(toks) >= 3:
            return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
        return {text}

    half = SC_PAIRS // 2
    jac_by_pair = {}
    for i in range(half):  # mutated-copy arm
        a = md5i(f"sc-a#{i}") % n
        cut = i % 10
        toks = docs[a].split(" ")
        start = (len(toks) * cut) // 20
        mut = " ".join(toks[start:])
        sa, sb = shingles(docs[a]), shingles(mut)
        jac_by_pair[(a, _SC_MUT_BASE + i)] = (
            len(sa & sb) / len(sa | sb))
    rnd = set()
    for i in range(half, SC_PAIRS):  # random arm
        a, b = md5i(f"sc-a#{i}") % n, md5i(f"sc-b#{i}") % n
        if a != b:
            rnd.add((min(a, b), max(a, b)))
    for a, b in rnd:
        sa, sb = shingles(docs[a]), shingles(docs[b])
        jac_by_pair[(a, b)] = len(sa & sb) / len(sa | sb)
    buckets = defaultdict(list)
    for j in jac_by_pair.values():
        buckets[min(int(j * 10), 9)].append(j)
    got = {r.bucket: r for r in registry.QUERIES["q_lsh_s_curve"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(buckets)
    for bkt, js in buckets.items():
        r = got[bkt]
        assert r.n_pairs == len(js)
        # the exact-Jaccard computation matches token-level brute force
        assert abs(r.mean_j_r6 - sum(round(j, 9) for j in js) / len(js)) < 1e-5
        # theory column is the mean per-pair S-curve value
        th = [1 - (1 - j ** 4) ** 2 for j in js]
        assert abs(r.theory_r6 - sum(round(t, 9) for t in th) / len(th)) < 1e-5
        assert 0 <= r.n_collide <= r.n_pairs
    # S-curve shape: the j~0 tail never collides; the j~1 head almost
    # always does; measured rate is monotone in the Jaccard bucket
    assert got[0].n_collide == 0
    top = max(buckets)
    assert got[top].rate_bp >= 9000
    rates = [got[b].rate_bp for b in sorted(buckets) if b > 0]
    assert rates == sorted(rates)


def test_histogram_eqd_matches_brute_force(spark):
    from proxyhouse_spark.operators.relational import EQD_BUCKETS

    cents = sorted(
        int(round(r.value * 100)) for r in spark.read.parquet(
            f"{SF_SMALL}/events.parquet").select("value").collect())
    n = len(cents)

    def interp_pct(q):
        pos = (n - 1) * q
        lo = int(pos)
        frac = pos - lo
        return cents[lo] + (cents[lo + 1] - cents[lo]) * frac

    bounds = [interp_pct(k / 10) for k in range(1, EQD_BUCKETS)]
    want = {}
    for c in cents:
        b = EQD_BUCKETS - 1
        for k, q in enumerate(bounds):
            if c < q:
                b = k
                break
        if b not in want:
            want[b] = [0, c, c]
        cell = want[b]
        cell[0] += 1
        cell[1] = min(cell[1], c)
        cell[2] = max(cell[2], c)
    got = {r.bucket: r for r in registry.QUERIES["q_histogram_eqd"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(want)
    for b, (cnt, lo, hi) in want.items():
        r = got[b]
        assert (r.n, r.lo_cents, r.hi_cents) == (cnt, lo, hi)
        assert r.share_bp == cnt * 10000 // n
        # equi-depth contract: every bucket within 2x of the ideal depth
        # (boundary ties can skew, but the fixture's values are smooth)
        assert 0.5 * n / EQD_BUCKETS <= cnt <= 2 * n / EQD_BUCKETS


def test_filter_parity_matches_brute_force(spark):
    from collections import defaultdict

    quals = {r.doc_id: r.quality for r in registry.QUERIES[
        "q_quality_score"](spark, SF_SMALL).collect()}
    langs = {r.doc_id: r.lang for r in spark.read.parquet(
        f"{SF_SMALL}/documents.parquet").select("doc_id", "lang").collect()}
    med = _interp_pct(sorted(quals.values()), 0.5)
    by_lang = defaultdict(lambda: [0, 0])
    for d, q in quals.items():
        cell = by_lang[langs[d]]
        cell[0] += 1
        cell[1] += q > med
    rates = {la: p * 10000 // n for la, (n, p) in by_lang.items()}
    mx = max(rates.values())
    got = {r.lang: r for r in registry.QUERIES["q_filter_parity"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_lang)
    for la, (n, p) in by_lang.items():
        r = got[la]
        assert (r.n_docs, r.n_pass, r.pass_bp, r.max_bp) == (
            n, p, rates[la], mx)
        parity = rates[la] * 10000 // max(mx, 1)
        assert r.parity_bp == parity
        assert r.four_fifths_flag == (parity < 8000)
    # the most-favored group is its own reference: parity exactly 10000
    assert any(r.parity_bp == 10000 for r in got.values())


def test_pareto_cut_matches_brute_force(spark):
    from collections import defaultdict

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_partkey", "l_extendedprice", "l_discount").collect()
    brand = {r.p_partkey: r.p_brand for r in spark.read.parquet(
        f"{SF_SMALL}/part.parquet").collect()}
    rev = defaultdict(int)
    for r in li:
        rev[brand[r.l_partkey]] += (
            int(round(r.l_extendedprice * 1000))
            * (1000 - int(round(r.l_discount * 1000))))
    total = sum(rev.values())
    ranked = sorted(rev.items(), key=lambda kv: (-kv[1], kv[0]))
    got = {r.brand: r for r in registry.QUERIES["q_pareto_cut"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(rev)
    cum = 0
    for rk, (b, v) in enumerate(ranked, start=1):
        before = cum
        cum += v
        r = got[b]
        assert (r.rk, r.rev) == (rk, v)
        assert r.share_bp == v * 10000 // total
        assert r.cum_bp == cum * 10000 // total
        # in the 80% prefix iff the mass BEFORE this brand is < 80%
        assert r.in_top80 == (before * 5 < 4 * total)
    # sanity: the cut is a proper subset — some brands are in, some out
    flags = {r.in_top80 for r in got.values()}
    assert flags == {True, False}


def test_cross_corr_matches_brute_force(spark):
    from math import sqrt

    from proxyhouse_spark.operators.timeseries import CCF_MAX_LAG

    daily = _daily_frames(spark)
    a = {d: n for (et, d), (n, _) in daily.items() if et == "click"}
    b = {d: n for (et, d), (n, _) in daily.items() if et == "purchase"}
    want = {}
    for lag in range(-CCF_MAX_LAG, CCF_MAX_LAG + 1):
        pairs = [(a[d], b[d + lag]) for d in a if d + lag in b]
        n = len(pairs)
        sx = sum(x for x, _ in pairs)
        sy = sum(y for _, y in pairs)
        sxy = sum(x * y for x, y in pairs)
        sxx = sum(x * x for x, _ in pairs)
        syy = sum(y * y for _, y in pairs)
        want[lag] = (n, (n * sxy - sx * sy)
                     / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
    peak = max(r for _, r in want.values())
    got = {r.lag: r for r in registry.QUERIES["q_cross_corr"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(want)
    for lag, (n, r) in want.items():
        row = got[lag]
        assert row.n == n
        assert abs(row.r_r6 - r) < 1e-5
        assert row.is_peak == (abs(r - peak) < 1e-12)
    assert sum(1 for r in got.values() if r.is_peak) == 1


def test_anova_dow_matches_brute_force(spark):
    from collections import defaultdict

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_type", "ts", "value").collect()

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    groups = defaultdict(list)
    for r in rows:
        dow = (us(r.ts) // 86_400_000_000 + 4) % 7
        groups[(r.event_type, dow)].append(int(round(r.value * 100)))
    by_type = defaultdict(dict)
    for (et, dow), vals in groups.items():
        by_type[et][dow] = vals
    got = {r.event_type: r for r in registry.QUERIES["q_anova_dow"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_type)
    for et, gs in by_type.items():
        nn = sum(len(v) for v in gs.values())
        k = len(gs)
        t = sum(sum(v) for v in gs.values())
        qq = sum(x * x for v in gs.values() for x in v)
        # sum the per-group terms in sorted-dow order (the fold's order)
        ssg = 0.0
        for dow in sorted(gs):
            s = sum(gs[dow])
            ssg += float(s * s) / len(gs[dow])
        ssb = ssg - float(t * t) / nn
        ssw = float(qq) - ssg
        r = got[et]
        assert (r.n_rows, r.n_groups) == (nn, k)
        assert abs(r.msb_r6 - ssb / (k - 1)) < 1e-4
        assert abs(r.msw_r6 - ssw / (nn - k)) < 1e-4
        assert abs(r.f_r6 - (ssb / (k - 1)) / (ssw / (nn - k))) < 1e-4


def test_hhi_matches_brute_force(spark):
    from collections import defaultdict

    li = spark.read.parquet(f"{SF_SMALL}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount").collect()
    cust_of = {r.o_orderkey: r.o_custkey for r in spark.read.parquet(
        f"{SF_SMALL}/orders.parquet").collect()}
    seg_of = {r.c_custkey: r.c_mktsegment for r in spark.read.parquet(
        f"{SF_SMALL}/customer.parquet").collect()}
    rev = defaultdict(int)
    for r in li:
        c = cust_of[r.l_orderkey]
        rev[(seg_of[c], c)] += (
            int(round(r.l_extendedprice * 1000))
            * (1000 - int(round(r.l_discount * 1000))))
    segs = defaultdict(list)
    for (s, _), v in rev.items():
        segs[s].append(v)
    got = {r.segment: r for r in registry.QUERIES["q_hhi"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(segs)
    for s, vals in segs.items():
        total = sum(vals)
        hhi = sum(v * v for v in vals) / (total * total)
        r = got[s]
        assert r.n_customers == len(vals)
        assert abs(r.hhi_r9 - hhi) < 1e-8
        assert abs(r.hhi_scaled_r4 - 10000 * hhi) < 1e-3
        assert abs(r.equiv_firms_r4 - 1 / hhi) < 1e-2
        # HHI bounds: 1/n (perfect equality) <= HHI <= 1 (monopoly)
        assert 1 / len(vals) - 1e-9 <= hhi <= 1


def test_spearman_matches_scipy_style_brute_force(spark):
    daily = _daily_frames(spark)
    a = {d: n for (et, d), (n, _) in daily.items() if et == "click"}
    b = {d: n for (et, d), (n, _) in daily.items() if et == "purchase"}
    days = sorted(set(a) & set(b))
    xs = [a[d] for d in days]
    ys = [b[d] for d in days]

    def avg_ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        ranks = [0.0] * len(vals)
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and vals[order[j]] == vals[order[i]]:
                j += 1
            r = (i + j + 1) / 2  # average of 1-based ranks i+1..j
            for k in range(i, j):
                ranks[order[k]] = r
            i = j
        return ranks

    rx, ry = avg_ranks(xs), avg_ranks(ys)
    n = len(days)
    mx, my = sum(rx) / n, sum(ry) / n
    num = sum((u - mx) * (v - my) for u, v in zip(rx, ry))
    den = (sum((u - mx) ** 2 for u in rx)
           * sum((v - my) ** 2 for v in ry)) ** 0.5
    r = registry.QUERIES["q_spearman"](spark, SF_SMALL).collect()[0]
    assert r.n == n
    assert abs(r.rho_r6 - num / den) < 1e-5


def test_partial_corr_matches_brute_force(spark):
    daily = _daily_frames(spark)
    series = {}
    for et in ("click", "purchase", "view"):
        series[et] = {d: n for (e, d), (n, _) in daily.items() if e == et}
    days = sorted(set.intersection(*map(set, series.values())))

    def pearson(u, v):
        n = len(days)
        xs = [series[u][d] for d in days]
        ys = [series[v][d] for d in days]
        mx, my = sum(xs) / n, sum(ys) / n
        num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
        den = (sum((x - mx) ** 2 for x in xs)
               * sum((y - my) ** 2 for y in ys)) ** 0.5
        return num / den

    rxy = pearson("click", "purchase")
    rxz = pearson("click", "view")
    ryz = pearson("purchase", "view")
    part = (rxy - rxz * ryz) / ((1 - rxz ** 2) * (1 - ryz ** 2)) ** 0.5
    r = registry.QUERIES["q_partial_corr"](spark, SF_SMALL).collect()[0]
    assert r.n == len(days)
    assert abs(r.r_xy_r6 - rxy) < 1e-5
    assert abs(r.r_xz_r6 - rxz) < 1e-5
    assert abs(r.r_yz_r6 - ryz) < 1e-5
    assert abs(r.r_xy_given_z_r6 - part) < 1e-5


def test_rolling_vol_matches_brute_force(spark):
    from math import sqrt

    daily = _daily_frames(spark)
    cents = {(et, d): c for (et, d), (_, c) in daily.items()}
    got = {(r.event_type, r.day): r for r in registry.QUERIES[
        "q_rolling_vol"](spark, SF_SMALL).collect()}
    assert set(got) == set(cents)
    for (et, d), c in cents.items():
        window = [cents[(et, k)] for k in range(d - 6, d + 1)
                  if (et, k) in cents]
        r = got[(et, d)]
        assert r.cents == c
        assert r.n_win == len(window)
        if len(window) > 1:
            n = len(window)
            s, q = sum(window), sum(x * x for x in window)
            vol = sqrt((n * q - s * s) / (n * (n - 1)))
            assert abs(r.vol_r6 - vol) < 1e-4
        else:
            assert r.vol_r6 is None


def test_runs_test_matches_brute_force(spark):
    from math import sqrt

    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (_, c) in daily.items():
        by_type.setdefault(et, []).append((d, c))
    got = {r.event_type: r for r in registry.QUERIES["q_runs_test"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        moves = [b - a for (_, a), (_, b) in zip(series, series[1:])]
        signs = [1 if m > 0 else -1 for m in moves if m != 0]
        n_zero = sum(1 for m in moves if m == 0)
        n_up = signs.count(1)
        n_down = signs.count(-1)
        runs = 1 + sum(1 for a, b in zip(signs, signs[1:]) if a != b)
        n = n_up + n_down
        e = 2 * n_up * n_down / n + 1
        var = (2 * n_up * n_down * (2 * n_up * n_down - n)
               / (n * n * (n - 1)))
        r = got[et]
        assert (r.n_up, r.n_down, r.n_runs, r.n_zero) == (
            n_up, n_down, runs, n_zero)
        assert abs(r.expected_r6 - e) < 1e-5
        assert abs(r.z_r6 - (runs - e) / sqrt(var)) < 1e-4


def test_classifier_agreement_matches_brute_force(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "doc_id", "text", "lang").collect()
    stop = {"the", "a", "of", "in", "and", "to", "is"}
    rows = []
    for d in docs:
        toks = d.text.split(" ")
        hits = sum(1 for t in toks if t in stop)
        score = 10000 * hits // max(len(toks), 1)
        a = 1 if hits >= 0.02 * len(toks) else 0
        rows.append((1 if d.lang == "en" else 0, a, score))
    med = _interp_pct(sorted(s for _, _, s in rows), 0.5)
    n = len(rows)
    na = sum(a for _, a, _ in rows)
    nb = sum(1 for _, _, s in rows if s > med)
    agree = sum(1 for _, a, s in rows if a == (s > med))
    disc_a = sum(1 for t, a, s in rows if a == t and (s > med) != t)
    disc_b = sum(1 for t, a, s in rows if (s > med) == t and a != t)
    r = registry.QUERIES["q_classifier_agreement"](
        spark, SF_SMALL).collect()[0]
    assert (r.n, r.na, r.nb, r.agree) == (n, na, nb, agree)
    assert (r.disc_a, r.disc_b) == (disc_a, disc_b)
    assert r.po_bp == agree * 10000 // n
    pe_num = na * nb + (n - na) * (n - nb)
    kappa = (n * agree - pe_num) / (n * n - pe_num)
    assert abs(r.kappa_r6 - kappa) < 1e-5
    if disc_a + disc_b:
        z = (disc_a - disc_b) / (disc_a + disc_b) ** 0.5
        assert abs(r.mcnemar_z_r6 - z) < 1e-5
    else:
        assert r.mcnemar_z_r6 == 0.0


def test_gains_table_matches_brute_force(spark):
    docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet").select(
        "text", "lang").collect()
    stop = {"the", "a", "of", "in", "and", "to", "is"}
    scored = []
    for d in docs:
        toks = d.text.split(" ")
        hits = sum(1 for t in toks if t in stop)
        scored.append((10000 * hits // max(len(toks), 1),
                       1 if d.lang == "en" else 0))
    svals = sorted(s for s, _ in scored)
    bounds = [_interp_pct(svals, k / 10) for k in range(1, 10)]
    cells = {}
    for s, pos in scored:
        dec = 9
        for k in range(1, 10):  # decile 0 = highest scores
            if s > bounds[10 - k - 1]:
                dec = k - 1
                break
        cell = cells.setdefault(dec, [0, 0])
        cell[0] += 1
        cell[1] += pos
    nn = len(scored)
    pp = sum(p for _, p in scored)
    got = {r.decile: r for r in registry.QUERIES["q_gains_table"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(cells)
    cn = cp = 0
    for dec in sorted(cells):
        n, np_ = cells[dec]
        cn += n
        cp += np_
        r = got[dec]
        assert (r.n, r.n_pos) == (n, np_)
        assert r.cum_capture_bp == cp * 10000 // pp
        assert r.cum_pop_bp == cn * 10000 // nn
        assert r.cum_lift_bp == cp * nn * 10000 // (cn * pp)
    # gains curve sanity: the last decile captures everything
    last = got[max(cells)]
    assert last.cum_capture_bp == 10000 and last.cum_pop_bp == 10000


def test_forecast_eval_matches_walk_forward_brute_force(spark):
    daily = _daily_frames(spark)
    by_type = {}
    for (et, d), (_, cents) in daily.items():
        by_type.setdefault(et, []).append((d, cents))
    got = {r.event_type: r for r in registry.QUERIES["q_forecast_eval"](
        spark, SF_SMALL).collect()}
    assert set(got) == set(by_type)
    for et, series in by_type.items():
        series.sort()
        xs = [float(c) for _, c in series]
        naive = []
        ewma = []
        acc = xs[0]
        for i in range(1, len(xs)):
            naive.append(abs(xs[i] - xs[i - 1]))
            ewma.append(round(abs(xs[i] - acc), 9))
            acc = acc + 0.25 * (xs[i] - acc)
        r = got[et]
        assert r.n_evals == len(naive)
        assert r.naive_abs_err_cents == int(sum(naive))
        mae_n = sum(naive) / len(naive)
        mae_e = sum(ewma) / len(ewma)
        assert abs(r.mae_naive_r6 - mae_n) < 1e-4
        assert abs(r.mae_ewma_r6 - mae_e) < 1e-4
        assert abs(r.skill_r6 - (1 - mae_e / mae_n)) < 1e-5


def test_tv_distance_matches_brute_force(spark):
    from collections import Counter

    rows = spark.read.parquet(f"{SF_SMALL}/events.parquet").select(
        "event_type", "ts", "value").collect()

    def us(ts):
        epoch = ts.replace(year=1970, month=1, day=1, hour=0, minute=0,
                           second=0, microsecond=0)
        td = ts - epoch
        return (td.days * 86_400 + td.seconds) * 1_000_000 + td.microseconds

    ts_us = [us(r.ts) for r in rows]
    mid = (min(ts_us) + max(ts_us)) // 2
    h1, h2 = {}, {}
    for r, t in zip(rows, ts_us):
        c = int(round(r.value * 100))
        tgt = h1 if t <= mid else h2
        tgt.setdefault(r.event_type, Counter())[c] += 1
    got = {r.event_type: r for r in registry.QUERIES["q_tv_distance"](
        spark, SF_SMALL).collect()}
    types = set(h1) | set(h2)
    assert set(got) == types
    for et in types:
        a = h1.get(et, Counter())
        b = h2.get(et, Counter())
        n1, n2 = sum(a.values()), sum(b.values())
        vals = set(a) | set(b)
        s = sum(abs(a[v] * n2 - b[v] * n1) for v in vals)
        r = got[et]
        assert (r.n1, r.n2, r.n_values) == (n1, n2, len(vals))
        assert r.tv_bp == s * 10000 // (2 * n1 * n2)
        # TV bounds: 0 <= TV <= 1 (10000 bp)
        assert 0 <= r.tv_bp <= 10000
