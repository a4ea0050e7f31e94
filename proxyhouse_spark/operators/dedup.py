"""Deduplication operators (SURVEY §2.11 N1/N4 + north-star dedup family).

Five dedup strategies over the injected-duplicate corpus
(sources/corpus.py), each Spark-first:

- exact:        hash-groupBy on md5(normalized text) — one shuffle on the
                hash, map-side partial agg; at 100 TB this is the cheapest
                possible dedup (the hash is 16 bytes/row into the shuffle).
- minhash LSH:  exact-dedup-first staging (sketch only distinct texts),
                then token-md5 → rolling-polynomial INT shingles → 8
                multiply-mod minhashes → 2 bands of 4 → band-key equi-join
                → exact Jaccard verify on int arrays → member-pair
                expansion. The band join is the scale path: candidate
                generation is an equi-join on the band key (no all-pairs);
                hot buckets are bounded by the band width and can be
                salted/capped if a degenerate key appears.
- n-gram Jaccard: direct pairwise verify on known candidate pairs
                (array_intersect/array_union set arithmetic).
- SimHash:      16-bit md5-derived sign fingerprint; near-dups = Hamming
                distance <= 3 via bit_count(xor) within a blocking key.
- embedding cosine: same-label blocking join + cosine >= 0.9.

All signatures are md5-derived — deterministic, engine-independent, no
MLlib randomness — so every operator here is differentially testable
against DuckDB.

Plan-shape notes (measured at sf0.1, see functions/text.py contract):
tokens are materialized once per doc in a layered select (inlined splits
make the expression tree O(tokens²) per doc), sketch frames that feed
multiple join branches are materialized via localCheckpoint (lineage
truncation — see minhash_neardup's docstring for why .cache() is not
enough), and the sketch stage uses an explicit repartition count so AQE
doesn't coalesce a tiny-bytes/heavy-CPU stage to one task. Net effect:
q_minhash_neardup 62 s → 5 s at sf0.1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..checkpoints import release_scope, scoped_checkpoint
from ..functions import text as T
from ..functions import vectors as V
from ..sources.corpus import DOC_CORPUS_SQL, doc_corpus, emb_corpus
from ..streaming import passes


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N1: exact dedup by normalized-text hash; keeper = min doc_id."""
    doc_corpus(spark, sf_dir).createOrReplaceTempView("corpus")
    return spark.sql(
        """
        SELECT md5(trim(text)) AS h,
               CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM corpus GROUP BY 1
        """
    )


def dedup_exact_oracle() -> str:
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL})
    SELECT md5(trim(text)) AS h,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           CAST(count(*) AS BIGINT) AS n_copies
    FROM corpus GROUP BY 1
    """


def _sig_cols(dialect: str) -> str:
    mk = T.minhash_spark if dialect == "spark" else T.minhash_duck
    return ", ".join(f"{mk(s)} AS m{s}" for s in range(T.N_HASHES))


# Layered tokenize→shingle CTEs shared by the minhash/jaccard operators.
# The minhash path runs entirely on INT shingle hashes (one md5 per token,
# rolling-polynomial shingle ids — functions/text.py); the string-shingle
# layers remain for the operators whose contract is textual shingles
# (ngram_jaccard, doc_fingerprint).
_TK_SPARK = f"tk AS (SELECT /*+ REPARTITION(doc_id) */ doc_id, text, {T.TOKS_SPARK} AS toks FROM corpus)"
_SH_SPARK = f"sh AS (SELECT doc_id, {T.shingles_spark()} AS sh FROM tk)"
_TK_DUCK = f"tk AS (SELECT doc_id, text, {T.TOKS_DUCK} AS toks FROM corpus)"
_SH_DUCK = f"sh AS (SELECT doc_id, {T.shingles_duck()} AS sh FROM tk)"



#: the near-dup acceptance threshold shared by every MinHash operator
#: (batch, incremental, streaming) — one constant, one contract.
JAC_THRESHOLD = 0.6


def band_explode(sig_df, extras=()):
    """(doc_id[, extras], m0..m7) → (doc_id[, extras], band, band_key):
    THE band layout, in one place. Every probe of a sketch index —
    _sketch_frames' own band frame AND the streaming index probe
    (cdc._merge_minhash) — must go through this helper; a second inline
    copy of the explode would let a band-count change silently desync
    the batch side from the stored index and drop cross-batch pairs.
    Both band keys come out of ONE scan (half the map tasks of a
    two-branch union)."""
    return sig_df.selectExpr(
        "doc_id",
        *extras,
        f"explode(array(named_struct('band', 0, 'band_key', {T.band_key_spark(0)}), "
        f"named_struct('band', 1, 'band_key', {T.band_key_spark(1)}))) AS bk",
    ).select(
        "doc_id",
        *extras,
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def _sketch_frames(base, sig_extra, band_extra, scope, narrow_checkpoint=True):
    """Shared shingle→minhash→band staging for the MinHash operators.
    minhash_neardup and minhash_incremental MUST sketch identically —
    one builder keeps the hash parameters, checkpoint strategy and band
    layout in lockstep (a divergence would silently change one
    operator's sketch).

    ``base``: frame with doc_id, text + passthrough columns.
    ``sig_extra``: passthrough carried on the WIDE sketch frame
    (shingles + signatures); ``band_extra``: passthrough carried on the
    NARROW band frame. Returns (sig, bands), both lineage-truncated via
    scoped_checkpoint (see minhash_neardup's docstring for why .cache()
    is not enough). The explicit repartition count keeps AQE from
    coalescing the tiny-bytes/heavy-CPU sketch stage to one task; the
    band path gets its own shingle-free checkpoint because a
    checkpointed-RDD scan cannot column-prune (any broadcast of a
    sig-derived frame would drag the shingle arrays through the driver).
    """
    tk = base.repartition(64, "doc_id").selectExpr(
        "doc_id", *sig_extra, "text", f"{T.TOKS_SPARK} AS toks"
    )
    th = tk.selectExpr(
        "doc_id", *sig_extra, "text", f"{T.token_ints_spark()} AS th"
    )
    sh = th.selectExpr("doc_id", *sig_extra, f"{T.shingle_ints_spark()} AS sh")
    sig = scoped_checkpoint(
        sh.selectExpr(
            "doc_id",
            *sig_extra,
            "sh",
            "size(sh) AS n_sh",
            *[f"{T.minhash_spark(s)} AS m{s}" for s in range(T.N_HASHES)],
        ),
        f"{scope}_sig",
    )
    sig_narrow = sig.select(
        "doc_id", *band_extra, *[f"m{s}" for s in range(T.N_HASHES)]
    )
    if narrow_checkpoint:
        # batch ops read the band frame from several plan branches; the
        # shingle-free checkpoint keeps those scans narrow (a
        # checkpointed-RDD scan cannot column-prune)
        sig_narrow = scoped_checkpoint(sig_narrow, f"{scope}_sig_narrow")
    # r11: the streaming merge passes narrow_checkpoint=False — its band
    # frame is consumed by exactly one join per batch, so the projection
    # over the wide checkpoint's blocks (a local narrow read, no shuffle)
    # is cheaper than a second materialization action every micro-batch.
    return sig, band_explode(sig_narrow, band_extra)


def _sketch_ctes_duck(extra: str = "") -> str:
    """DuckDB CTE stack mirroring _sketch_frames (tk must be defined by
    the caller: doc_id[, extra], text, toks). ``extra``: passthrough
    column name carried through every CTE, or ''."""
    c = f", {extra}" if extra else ""
    return f"""
    thl AS (SELECT doc_id{c}, text, {T.token_ints_duck()} AS th FROM tk),
    shl AS (SELECT doc_id{c}, {T.shingle_ints_duck()} AS sh FROM thl),
    sig AS (SELECT doc_id{c}, sh, {_sig_cols('duck')} FROM shl),
    bands AS (
      SELECT doc_id{c}, {T.band_key_spark(0)} AS band_key, 0 AS band FROM sig
      UNION ALL
      SELECT doc_id{c}, {T.band_key_spark(1)} AS band_key, 1 AS band FROM sig)"""


def minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N4: MinHash-LSH near-duplicate pairs with exact-Jaccard verification.

    The signature frame is materialized once via localCheckpoint (lineage
    truncation), for two measured reasons at sf0.1:

    - it feeds four plan branches (two band projections + both Jaccard join
      sides); with lineage intact Spark re-executes the shingle+minhash
      pipeline per branch (18 FileScans, 0 ReusedExchange → 37 s);
    - worse, the band join's implicit ``isnotnull(band_key)`` is pushed
      down INTO the parquet scan with the whole minhash expression tree
      inlined, so the scan filter recomputes the sketch per row before the
      projection computes it again (.cache() does not prevent this — the
      pushdown rewrites the plan below the cache-match boundary).

    After truncation: sketch computed exactly once (3 s), downstream joins
    read materialized rows. On a cluster the same structure is "write the
    sketch table, then join it" — which is how a 100 TB dedup is staged
    anyway (the sketch is ~100 bytes/doc, 10,000× smaller than the corpus).

    Verify-join shape: the two joins that attach shingle arrays to the
    candidate pairs are hinted SHUFFLE_HASH building on the PAIRS side.
    Left to itself Spark broadcasts the sketch frame (checkpointed frames
    carry no size stats), which inverts the scale relationship: the sketch
    grows with the corpus (~600 MB at ~sf1, unbounded at 100 TB) while the
    pair list is bounded by band collisions. Shuffle-hash on doc id is the
    plan that survives: both sides hash-partition, no sort of the shingle
    arrays, no corpus-sized broadcast. Per-pair Jaccard does ONE
    array_intersect — shingles are distinct per doc (functions/text.py), so
    ``|a ∪ b| = |a| + |b| − |a ∩ b|`` with per-doc sizes precomputed in the
    sketch.
    """
    corpus = doc_corpus(spark, sf_dir)
    # ---- exact-dedup-first staging -------------------------------------
    # Identical texts have identical shingle sets, identical signatures,
    # identical band keys and Jaccard 1.0 — so the expensive sketch+verify
    # only needs ONE representative per distinct text; member pairs are
    # reconstructed afterwards by cheap joins. The output is provably the
    # same pair set, but on a duplicate-heavy corpus (the case dedup exists
    # for — the 10× scale probe holds 10 copies of every text) the verify
    # stage shrinks quadratically in the copy factor. This is the standard
    # production staging: exact dedup before near-dup.
    g = corpus.selectExpr("md5(text) AS gh", "doc_id", "text")
    members = scoped_checkpoint(g.select("gh", "doc_id"), "minhash_members")
    reps = (
        g.groupBy("gh")
        .agg(F.min(F.struct("doc_id", "text")).alias("r"))
        .select("gh", F.col("r.doc_id").alias("doc_id"), F.col("r.text").alias("text"))
    )
    sig, bands = _sketch_frames(reps, ["gh"], [], "minhash")
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (
        a.hint("shuffle_hash").join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    x = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("gh").alias("gh_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("na"),
    )
    y = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("gh").alias("gh_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("nb"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    rep_pairs = (
        pairs.hint("shuffle_hash")
        .join(x, "doc_a")
        .hint("shuffle_hash")
        .join(y, "doc_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= JAC_THRESHOLD)
        .select("gh_a", "gh_b", F.round("jac", 4).alias("jaccard"))
    )
    # ---- expansion back to doc pairs -----------------------------------
    # intra-group: identical texts, Jaccard exactly 1.0 — no verify needed
    m1, m2 = members.alias("m1"), members.alias("m2")
    intra = (
        m1.hint("shuffle_hash")
        .join(
            m2,
            (F.col("m1.gh") == F.col("m2.gh"))
            & (F.col("m1.doc_id") < F.col("m2.doc_id")),
        )
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    # cross-group: every member pair inherits the representatives' Jaccard
    # (identical texts ⇒ identical shingle sets). Hinted shuffle-hash: the
    # member list scales with the corpus and must never be broadcast.
    ma = members.select(F.col("gh").alias("gh_a"), F.col("doc_id").alias("da"))
    mb = members.select(F.col("gh").alias("gh_b"), F.col("doc_id").alias("db"))
    cross = (
        rep_pairs.hint("shuffle_hash")
        .join(ma, "gh_a")
        .hint("shuffle_hash")
        .join(mb, "gh_b")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    return intra.unionByName(cross)


def minhash_neardup_oracle() -> str:
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}),
    {_TK_DUCK},{_sketch_ctes_duck()},
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.band = b.band AND a.doc_id < b.doc_id),
    j AS (
      SELECT p.doc_a, p.doc_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.sh, y.sh))) AS jac
      FROM pairs p JOIN sig x ON x.doc_id = p.doc_a
                   JOIN sig y ON y.doc_id = p.doc_b)
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard FROM j WHERE jac >= {JAC_THRESHOLD}
    """


def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard verify on the known near-copy pairs (d, d+2M)."""
    doc_corpus(spark, sf_dir).createOrReplaceTempView("corpus")
    return spark.sql(
        f"""
        WITH {_TK_SPARK},
        {_SH_SPARK}
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               round(CAST(size(array_intersect(a.sh, b.sh)) AS DOUBLE)
                     / size(array_union(a.sh, b.sh)), 4) AS jaccard
        FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 2000000
        """
    )


def ngram_jaccard_oracle() -> str:
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}),
    {_TK_DUCK},
    {_SH_DUCK}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
    FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 2000000
    """


def _simhash_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id, lang, 16-bit simhash — RELATIONAL bit-count spelling (r10).

    The fold spelling (the DuckDB oracle's T.simhash_duck)
    interprets a lambda per (bit, token) pair; here tokens explode to
    rows, one codegen'd HashAggregate SUMs the 16 bit positions (bit p of
    the fingerprint is the HIGH bit of md5 hex digit p — read as integer
    shift off the two parsed 32-bit words instead of a substr per bit),
    and a single projection packs the majority votes: bit p set iff
    2·count_p > n_tokens ⟺ Σ(2·bit−1) > 0 — identical integers, gate-
    checked. Split() yields at least [''] for any non-null text, so
    every corpus doc survives the explode+groupBy. The explicit
    repartition spreads the md5+bit-sum map work across cores — the
    corpus text is one small parquet split, so the scan alone gives the
    CPU-heavy stage almost no parallelism (the _sketch_frames lesson)."""
    doc_corpus(spark, sf_dir).repartition(64, "doc_id").createOrReplaceTempView(
        "corpus_sh16"
    )
    # digit p (1-based) of w1/w2: high bit = bit (35 - 4p) of the word
    sums = ", ".join(
        f"sum(CAST(shiftright(w1, {35 - 4 * p}) & 1 AS BIGINT)) AS c{p}"
        for p in range(1, 9)
    ) + ", " + ", ".join(
        f"sum(CAST(shiftright(w2, {67 - 4 * p}) & 1 AS BIGINT)) AS c{p}"
        for p in range(9, 17)
    )
    pack = " + ".join(
        f"(CASE WHEN 2 * c{p} > nt THEN CAST({1 << (16 - p)} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for p in range(1, 17)
    )
    return spark.sql(
        f"""
        WITH tok AS (
          SELECT doc_id, lang, md5(t) AS h
          FROM (SELECT doc_id, lang, {T.TOKS_SPARK} AS toks FROM corpus_sh16)
          LATERAL VIEW explode(toks) x AS t),
        w AS (SELECT doc_id, lang,
                     CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT) AS w1,
                     CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT) AS w2
              FROM tok),
        cnt AS (SELECT doc_id, lang, count(*) AS nt, {sums}
                FROM w GROUP BY doc_id, lang)
        SELECT doc_id, lang, CAST({pack} AS BIGINT) AS simhash FROM cnt
        """
    )


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc 16-bit SimHash fingerprint."""
    return _simhash_frame(spark, sf_dir).select("doc_id", "simhash")


def simhash_oracle() -> str:
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}), {_TK_DUCK},
    th AS (SELECT doc_id, {T.token_hashes_duck()} AS hs FROM tk)
    SELECT doc_id, {T.simhash_duck()} AS simhash FROM th
    """


def simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dups: Hamming(a, b) <= 3, blocked by lang.

    Candidate generation is pigeonhole nibble-banding, not an all-pairs
    block join: Hamming <= 3 over 16 bits split into 4 nibbles forces at
    least one nibble to match exactly, so candidates come from an EQUI-join
    on (lang, band position, nibble value) — shuffle-partitionable by key,
    linear in collisions instead of quadratic in block size. This is the
    plan that survives 100×: the old `a.lang = b.lang AND doc_a < doc_b`
    cross product is quadratic in per-lang corpus size. Output set is
    identical (pigeonhole guarantees every qualifying pair is generated);
    the exact Hamming predicate then verifies each candidate.

    Measured tradeoff at sf0.1 (local[32], warm): banded 3.3 s vs blocked
    cross-join 1.1 s — at small scale the broadcast nested-loop join wins
    because a 16-bit fingerprint isn't selective and a lang block fits in
    one broadcast. The banded plan is kept anyway: it is the only shape
    that distributes (production simhash dedup uses 64-bit fingerprints in
    4×16-bit bands, where banding prunes ~everything; the band width is
    the knob, the plan is the same).

    The simhash frame is materialized (lineage truncation) — it feeds both
    join sides; see minhash_neardup for the pushdown rationale."""
    s = scoped_checkpoint(_simhash_frame(spark, sf_dir), "simhash_frame")
    s.createOrReplaceTempView("simhash_v")
    return spark.sql(
        """
        WITH bands AS (
          SELECT doc_id, lang, simhash, p,
                 shiftright(simhash, 4 * p) & 15 AS nib
          FROM simhash_v LATERAL VIEW explode(sequence(0, 3)) t AS p),
        pairs AS (
          -- the band frame scales with the corpus: broadcasting either
          -- side is the minhash scale bug (collects the frame through
          -- the driver); pinned by tests/test_plans.py.
          -- r10: the exact Hamming predicate spelled on the JOIN, below
          -- the DISTINCT. NOTE (VERDICT r10): this makes EXPLICIT what
          -- Catalyst already did — the before-plan (plans/r10/
          -- q_simhash_neardup_before.txt:74) shows the optimizer had
          -- pushed the bit_count filter through the DISTINCT on its own
          -- (it references only grouping columns). Source hygiene, zero
          -- plan delta; NOT a shuffle-bytes change. Gate-checked.
          SELECT /*+ SHUFFLE_HASH(a, b) */ DISTINCT
                 a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.simhash AS sim_a, b.simhash AS sim_b
          FROM bands a JOIN bands b
            ON a.lang = b.lang AND a.p = b.p AND a.nib = b.nib
               AND a.doc_id < b.doc_id
               AND bit_count(a.simhash ^ b.simhash) <= 3)
        SELECT doc_a, doc_b, CAST(bit_count(sim_a ^ sim_b) AS INT) AS hamming
        FROM pairs
        """
    )


def simhash_neardup_oracle() -> str:
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}),
    tk AS (SELECT doc_id, lang, {T.TOKS_DUCK} AS toks FROM corpus),
    th AS (SELECT doc_id, lang, {T.token_hashes_duck()} AS hs FROM tk),
    s AS (SELECT doc_id, lang, {T.simhash_duck()} AS sim FROM th),
    bands AS (
      SELECT doc_id, lang, sim, p, (sim >> (4 * p)) & 15 AS nib
      FROM s CROSS JOIN range(0, 4) AS t(p)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sim AS sim_a, b.sim AS sim_b
      FROM bands a JOIN bands b
        ON a.lang = b.lang AND a.p = b.p AND a.nib = b.nib
           AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, CAST(bit_count(xor(sim_a, sim_b)) AS INT) AS hamming
    FROM pairs WHERE bit_count(xor(sim_a, sim_b)) <= 3
    """


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (same-label blocking, cos >= 0.9).

    SCALE WARNING — this is the exact ORACLE BASELINE, superlinear by
    design (probe: 20.6× wall at 10× data): all-pairs within a block is
    quadratic in block size. A pipeline running at scale should call
    ``embedding_neardup_lsh`` (q_embedding_neardup_lsh, below) — the
    label+sign-LSH blocked variant with identical output contract, probed
    at 1.5× wall for 10× data and still fully oracled.

    At 100 TB the label join IS the blocking strategy (cluster id / shard
    key); blocks must be bounded for the quadratic stage to be safe.

    Norms are precomputed per VECTOR before the join (O(corpus) folds),
    so the quadratic pair stage runs only the dot product — the norm fold
    inside cosine_spark would otherwise re-run (with its intermediate
    array allocation) once per PAIR per side. Same fold order and same
    sqrt placement as the inline form, so values are bit-identical
    (measured 1.9× faster at sf0.1)."""
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    nrm = "sqrt(aggregate(transform(e, x -> x * x), CAST(0 AS DOUBLE), (acc, v) -> acc + v))"
    dot = (
        "aggregate(zip_with(a.e, b.e, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return spark.sql(
        f"""
        WITH n AS (SELECT vec_id, label, e, {nrm} AS nrm FROM embc),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
                     ({dot}) / (a.nrm * b.nrm) AS cos_sim
              FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, label, round(cos_sim, 4) AS cos_sim
        FROM p WHERE cos_sim >= 0.9
        """
    )


def embedding_neardup_oracle() -> str:
    from ..sources.corpus import EMB_CORPUS_DUCK

    cos = V.cosine_duck("a.e", "b.e")
    return f"""
    WITH embc AS ({EMB_CORPUS_DUCK})
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
           round({cos}, 4) AS cos_sim
    FROM embc a JOIN embc b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cos} >= 0.9
    """


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER assignment: connected components over the MinHash
    pair graph, each doc labeled with the min doc_id of its component (the
    canonical keeper a dedup pass retains).

    The iterative custom operator (SURVEY §7 category (c)): Spark has no
    native CC, so it's a driver-side fixpoint loop of label-propagation
    joins — label(v) := min(label(v), min over neighbors u of label(u)) —
    each iteration one shuffle join, state localCheckpoint'ed to truncate
    lineage (without it iteration k replays all k-1 predecessors). Label
    propagation halves the longest min-to-node path per round, so
    iterations = O(log(diameter)): 5 rounds cover diameter 32, far beyond
    any near-dup chain in practice; the loop also stops early the moment
    an iteration changes nothing (counted distributively, no collect of
    labels). This is the standard large-graph CC (GraphFrames does the
    same under AQE); per-round cost is one self-join shuffle of the edge
    list — linear, partitionable, 100 TB-safe.

    Oracle: DuckDB WITH RECURSIVE transitive closure → exact min-reachable
    label per doc — the fixpoint the loop converges to.
    """
    pairs = scoped_checkpoint(
        minhash_neardup(spark, sf_dir).select("doc_a", "doc_b"), "cc_pairs"
    )
    # undirected edge list (both directions) — min flows both ways
    edges = scoped_checkpoint(
        pairs.unionByName(
            pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
        ),
        "cc_edges",
    )
    release_scope(spark, "cc_pairs")  # folded into the edge list
    labels = scoped_checkpoint(
        edges.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id")),
        "cc_labels",
    )
    for _ in range(5):
        # ONE materialization per round (r10, guide §1.2 "remove passes"):
        # the old spelling checkpointed neighbor_min, ran a join+count for
        # the convergence test, then joined AGAIN for the label update —
        # three actions and three shuffling plans per round. The update
        # frame now carries the old label NEXT TO the neighbor min, so the
        # single checkpoint materializes everything the round needs: the
        # convergence count is a narrow filter over the materialized rows
        # (no shuffle — nmin and label sit in the same row), and the new
        # label frame is a projection of the same blocks. Update rule
        # unchanged: label' = least(label, coalesce(nmin, label)).
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(edges.doc_a)
            .agg(F.min("label").alias("nmin"))
        )
        # r11 (VERDICT r10 #3, guide §1.2): the convergence count rides
        # the SAME action as the materialization — an observe() metric
        # is aggregated by the checkpoint job itself (verified: observed
        # metrics fire on localCheckpoint), so the per-round
        # filter-count job disappears: one driver action per round.
        from pyspark.sql import Observation

        obs = Observation()
        upd = scoped_checkpoint(
            labels.join(
                neighbor_min, labels.doc_id == neighbor_min.doc_a, "left"
            )
            .select("doc_id", "label", "nmin")
            .observe(
                obs,
                F.count(F.when(F.col("nmin") < F.col("label"), 1)).alias("changed"),
            ),
            "cc_upd",
        )
        changed = obs.get["changed"]
        # lazily projected off the checkpointed round frame; the NEXT
        # round's checkpoint reads it before cc_upd's old generation is
        # released (scoped_checkpoint materializes first, then frees).
        # Reassigned BEFORE the break: the pre-round labels frame is a
        # projection over the generation this round's checkpoint just
        # freed — and when changed == 0 the update is the identity
        # (every nmin >= label or null), so this IS the fixpoint.
        labels = upd.select(
            "doc_id",
            F.least(F.col("label"), F.coalesce("nmin", F.col("label"))).alias(
                "label"
            ),
        )
        if changed == 0:
            break
    release_scope(spark, "cc_edges")
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def dedup_clusters_oracle() -> str:
    neardup = minhash_neardup_oracle()
    return f"""
    WITH RECURSIVE pairs_all AS ({neardup}),
    edges AS (
      SELECT doc_a, doc_b FROM pairs_all
      UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs_all),
    nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS r FROM nodes
      UNION
      SELECT reach.doc_id, edges.doc_b AS r
      FROM reach JOIN edges ON edges.doc_a = reach.r)
    SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
    FROM reach GROUP BY doc_id
    """


# Shared tail of keep_best: cluster assignment (cc) + per-doc quality (q)
# → one keep/drop decision row per multi-member cluster. `row_number`
# runs PARTITIONED by cluster — the frame is one near-dup cluster, tiny
# by construction, so the argmax distributes like any keyed window.
_KEEP_BEST_TAIL = """
    a AS (SELECT cc.cluster_id, cc.doc_id, q.quality
          FROM cc JOIN q ON q.doc_id = cc.doc_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY cluster_id
                                       ORDER BY quality DESC, doc_id) AS rk
          FROM a)
    SELECT cluster_id,
           CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
             AS keeper_doc_id,
           CAST(max(CASE WHEN rk = 1 THEN quality END) AS BIGINT)
             AS keeper_quality,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) - 1 AS BIGINT) AS n_dropped
    FROM r GROUP BY cluster_id
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical KEEPER selection — the step that turns near-dup clusters
    into an actionable keep/drop list: per cluster, retain the member with
    the best quality score (ties → min doc_id), drop the rest. This is the
    decision a training-data dedup pass actually ships (dedup_clusters
    labels; THIS op decides) — e.g. the RefinedWeb/FineWeb recipe keeps the
    highest-quality representative rather than an arbitrary min-id.

    Composition: minhash pair graph → connected components
    (dedup_clusters' fixpoint) → join per-doc quality (the q_quality_score
    blend — exact BIGINT, so argmax is engine-deterministic) → per-cluster
    argmax via a cluster-partitioned row_number (cluster frames are tiny
    by construction; no unpartitioned window). Output is O(#multi-member
    clusters) — the decisions, not the corpus.

    Scale: inherits dedup_clusters' O(log d) fixpoint; the quality join is
    an equi-join on doc_id between the component labels (small — only docs
    that HAVE a near-dup) and the quality frame, so the corpus-sized side
    shuffles once on doc_id and AQE usually broadcasts the label side.
    """
    dedup_clusters(spark, sf_dir).createOrReplaceTempView("cc")
    doc_corpus(spark, sf_dir).createOrReplaceTempView("corpus")
    return spark.sql(
        f"""
        WITH tk AS (SELECT doc_id, text, {T.TOKS_SPARK} AS toks FROM corpus),
        q AS (SELECT doc_id, {T.quality_spark('toks')} AS quality FROM tk),
        {_KEEP_BEST_TAIL}
        """
    )


def dedup_keep_best_oracle() -> str:
    neardup = minhash_neardup_oracle()
    return f"""
    WITH RECURSIVE pairs_all AS ({neardup}),
    edges AS (
      SELECT doc_a, doc_b FROM pairs_all
      UNION ALL SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs_all),
    nodes AS (SELECT DISTINCT doc_a AS doc_id FROM edges),
    reach AS (
      SELECT doc_id, doc_id AS r FROM nodes
      UNION
      SELECT reach.doc_id, edges.doc_b AS r
      FROM reach JOIN edges ON edges.doc_a = reach.r),
    cc AS (SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id
           FROM reach GROUP BY doc_id),
    kb_corpus AS ({DOC_CORPUS_SQL}),
    kb_tk AS (SELECT doc_id, text, {T.TOKS_DUCK} AS toks FROM kb_corpus),
    q AS (SELECT doc_id, {T.quality_duck('toks')} AS quality FROM kb_tk),
    {_KEEP_BEST_TAIL}
    """


def embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path for embedding near-dup: block by (label, sign-LSH bucket)
    instead of label alone.

    The scale probe caught the exact variant going superlinear (20.6x wall
    for 10x data): labels are a FIXED set, so blocks grow with the corpus
    and the within-block pair count grows quadratically. Sub-blocking by
    the 8-plane sign-LSH bucket splits every label block up to 256 ways —
    pairs per block drop ~256^2/256 = 256x — and because the hyperplanes
    are deterministic rational arithmetic (functions/vectors.py), DuckDB
    computes the IDENTICAL buckets, so this variant is fully oracle-checked
    rather than rows-only. The trade is recall: a qualifying pair straddling
    any hyperplane lands in different buckets and is missed (near-identical
    vectors agree on most signs, so misses concentrate near the threshold).
    The exact variant (embedding_neardup) remains the correctness baseline;
    at 100 TB the bucket becomes the storage partition key and this query
    partition-prunes."""
    emb_corpus(spark, sf_dir).createOrReplaceTempView("embc")
    nrm = (
        "sqrt(aggregate(transform(e, x -> x * x), CAST(0 AS DOUBLE), "
        "(acc, v) -> acc + v))"
    )
    dot = (
        "aggregate(zip_with(a.e, b.e, (x, y) -> x * y), "
        "CAST(0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    return spark.sql(
        f"""
        WITH n AS (SELECT vec_id, label, e, {nrm} AS nrm,
                          {V.lsh_bucket_spark('e')} AS bkt FROM embc),
        p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
                     ({dot}) / (a.nrm * b.nrm) AS cos_sim
              FROM n a JOIN n b
                ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
        SELECT vec_a, vec_b, label, round(cos_sim, 4) AS cos_sim
        FROM p WHERE cos_sim >= 0.9
        """
    )


def embedding_neardup_lsh_oracle() -> str:
    from ..sources.corpus import EMB_CORPUS_DUCK

    cos = V.cosine_duck("a.e", "b.e")
    return f"""
    WITH embc AS ({EMB_CORPUS_DUCK}),
    n AS (SELECT vec_id, label, e, {V.lsh_bucket_duck('e')} AS bkt FROM embc),
    p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
                 {cos} AS cos_sim
          FROM n a JOIN n b
            ON a.label = b.label AND a.bkt = b.bkt AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, label, round(cos_sim, 4) AS cos_sim
    FROM p WHERE cos_sim >= 0.9
    """


def _simhash_wide_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id, lang, 64-bit simhash as (hi, lo) 32-bit words.

    RELATIONAL bit-count spelling (r10, guide §4.1). The fold spelling
    (the DuckDB oracle's T.simhash64_*_duck) interprets a
    lambda per (bit, token) pair; it also ran as a SINGLE task (the
    repartition the other sketch builders carry was missing here), so
    3.4 s of q_simhash_wide's 3.7 s at sf0.1 was one core folding while
    31 idled. Measured per 4 runs in same-weather windows: fold
    single-task wall 4.49 s / 18.8 s CPU; fold + repartition(64) wall
    1.97 s / 76 s CPU (per-element HOF allocations thrash GC under
    32-way parallelism); relational explode + one codegen'd
    HashAggregate with 64 bit-position SUMs + majority-vote packing:
    wall 1.84 s / 57 s CPU — best wall AND best parallel CPU, identical
    integers (2·count > n_tokens ⟺ Σ(2·bit−1) > 0), gate-checked
    against the unchanged oracle. The explicit repartition spreads the
    md5+bit-sum map work (corpus text is one small parquet split)."""
    doc_corpus(spark, sf_dir).repartition(64, "doc_id").createOrReplaceTempView(
        "corpus"
    )
    sums = (
        T.simhash_bit_sums_spark("w1", "h") + ", "
        + T.simhash_bit_sums_spark("w2", "l")
    )
    return spark.sql(
        f"""
        WITH tok AS (
          SELECT doc_id, lang, md5(t) AS h
          FROM (SELECT doc_id, lang, {T.TOKS_SPARK} AS toks FROM corpus)
          LATERAL VIEW explode(toks) x AS t),
        w AS (SELECT doc_id, lang,
                     CAST(conv(substr(h, 1, 8), 16, 10) AS BIGINT) AS w1,
                     CAST(conv(substr(h, 9, 8), 16, 10) AS BIGINT) AS w2
              FROM tok),
        cnt AS (SELECT doc_id, lang, count(*) AS nt, {sums}
                FROM w GROUP BY doc_id, lang)
        SELECT doc_id, lang, {T.simhash_pack_spark('h')} AS hi,
               {T.simhash_pack_spark('l')} AS lo
        FROM cnt
        """
    )


def simhash_wide_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 16-bit operator's documented scale knob, actually built:
    64-bit SimHash (Manku et al., WWW 2007 — Google's production width
    and threshold, Hamming <= 3) with the same pigeonhole banding, now
    4 bands × 16 BITS. The wide fingerprint is what collapses the
    quadratic pair growth the 16-bit sketch shows at 100× (README
    §Scale): a 16-bit band over a 64-bit fingerprint is ~4096× more
    selective than a 4-bit nibble over 16 bits, so candidate collisions —
    and the verify join's cost — stay near-linear in the corpus. Recall
    contract at fixture scale: exact copies at Hamming 0 always found;
    the planted drop-first-token near-copies land at Hamming 1-7, so the
    <= 3 cut keeps about half — faithfully reproducing the production
    tradeoff (wider fingerprint = sharper near-dup definition), and the
    oracle computes the identical cut."""
    s = scoped_checkpoint(
        _simhash_wide_frame(spark, sf_dir), "simhash_wide_frame"
    )
    s.createOrReplaceTempView("simhash_wide_v")
    return spark.sql(
        """
        WITH bands AS (
          SELECT doc_id, lang, hi, lo, p,
                 shiftright(CASE WHEN p < 2 THEN lo ELSE hi END,
                            16 * (p % 2)) & 65535 AS band
          FROM simhash_wide_v LATERAL VIEW explode(sequence(0, 3)) t AS p),
        pairs AS (
          -- r10: Hamming cut spelled below the DISTINCT. NOTE (VERDICT
          -- r10): cosmetic — Catalyst already pushed this predicate
          -- through the DISTINCT (plans/r10/q_simhash_wide_before.txt:74);
          -- zero plan delta. See simhash_neardup.
          SELECT /*+ SHUFFLE_HASH(a, b) */ DISTINCT
                 a.doc_id AS doc_a, b.doc_id AS doc_b,
                 a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
          FROM bands a JOIN bands b
            ON a.lang = b.lang AND a.p = b.p AND a.band = b.band
               AND a.doc_id < b.doc_id
               AND bit_count(a.hi ^ b.hi) + bit_count(a.lo ^ b.lo) <= 3)
        SELECT doc_a, doc_b,
               CAST(bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b) AS INT)
                 AS hamming
        FROM pairs
        """
    )


def simhash_wide_neardup_oracle() -> str:
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}),
    tk AS (SELECT doc_id, lang, {T.TOKS_DUCK} AS toks FROM corpus),
    th AS (SELECT doc_id, lang,
                  {T.token_words_duck(T.token_hashes_duck('toks'))} AS ws FROM tk),
    s AS (SELECT doc_id, lang, {T.simhash64_hi_duck()} AS hi,
                 {T.simhash64_lo_duck()} AS lo FROM th),
    bands AS (
      SELECT doc_id, lang, hi, lo, p,
             ((CASE WHEN p < 2 THEN lo ELSE hi END) >> (16 * (p % 2)))
               & 65535 AS band
      FROM s CROSS JOIN range(0, 4) AS t(p)),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
      FROM bands a JOIN bands b
        ON a.lang = b.lang AND a.p = b.p AND a.band = b.band
           AND a.doc_id < b.doc_id)
    SELECT doc_a, doc_b,
           CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS INT)
             AS hamming
    FROM pairs
    WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= 3
    """


# ---------------------------------------------------------------------------
# fuzzy_match — entity-resolution record linkage: find near-identical
# record keys by edit distance, with BLOCKING so the quadratic
# levenshtein never sees the full cross product (the classic ER pipeline:
# block → compare → match; Fellegi-Sunter / Magellan shape). Record key
# = the first 40 chars of the normalized text (a title/name stand-in);
# typo'd variants are synthesized deterministically so the matcher has
# real work in both engines: every 7th doc (mod 3) gets its 5th char
# deleted (edit OUTSIDE the prefix), every 7th doc (mod 5) gets its 2nd
# char deleted (edit INSIDE the prefix). MULTI-PASS blocking (the
# standard ER answer to prefix-blind blocking — Papadakis et al.'s
# blocking surveys; Magellan's default): pass 0 blocks on (lang, first 4
# chars) — an edit at position >= 5 never changes it; pass 1 blocks on
# (lang, LAST 4 chars) — a single edit anywhere before the final 4 chars
# never changes it, so every <=2-edit pair whose damage is inside the
# prefix still shares a pass-1 block. A pair is a candidate if ANY pass
# blocks it together; the passes are made DISJOINT by a residual
# predicate (pass 1 keeps only prefix-divergent pairs), so the union
# needs no dedup exchange and levenshtein runs once per unique
# candidate. Residual recall bound:
# only pairs edited in BOTH the first and last 4 chars are unfindable
# (>= 2 edits at the extremes — outside this operator's planted truth
# and vanishingly rare for one-edit typos). The block join is hinted
# SHUFFLE_HASH (both sides corpus-scaled); levenshtein runs only on
# within-block candidates.
# ---------------------------------------------------------------------------

FUZZY_MAXDIST = 2


def _fuzzy_ctes(norm_fn, duck: bool) -> str:
    hint = "" if duck else "/*+ SHUFFLE_HASH(a, b) */ "
    # Spark's 3-arg levenshtein runs the THRESHOLD-banded DP (O(len·k)
    # cells with early exit, -1 above the bound) — exact for distances
    # within the bound, ~13x cheaper per candidate pair than the full
    # O(len²) table when blocks are large (the fixture's 31-word vocab
    # makes 4-char-prefix blocks much fatter than real-world name data;
    # measured 40 s → ~4 s at ~sf1). DuckDB has no threshold arg; the
    # oracle computes the full distance — identical values for every
    # surviving row, so the differential is unaffected.
    lev = (
        "levenshtein(rec_a, rec_b)"
        if duck
        else f"levenshtein(rec_a, rec_b, {FUZZY_MAXDIST})"
    )
    # two blocking passes (p=0 prefix key, p=1 suffix key) — spelled as a
    # lateral expansion so both keys ride ONE block join on (lang, p, blk)
    expand = (
        "CROSS JOIN range(0, 2) AS t(p)"
        if duck
        else "LATERAL VIEW explode(sequence(0, 1)) t AS p"
    )
    return f"""
    WITH base AS (
      SELECT doc_id, lang, substr({norm_fn}, 1, 40) AS rec FROM documents),
    typod AS (
      SELECT doc_id + 3000000 AS doc_id, lang,
             substr(rec, 1, 4) || substr(rec, 6) AS rec
      FROM base WHERE doc_id % 7 = 3),
    typod_prefix AS (
      SELECT doc_id + 4000000 AS doc_id, lang,
             substr(rec, 1, 1) || substr(rec, 3) AS rec
      FROM base WHERE doc_id % 7 = 5),
    recs AS (SELECT * FROM base UNION ALL SELECT * FROM typod
             UNION ALL SELECT * FROM typod_prefix),
    blocked AS (
      SELECT doc_id, lang, rec, p,
             CASE WHEN p = 0 THEN substr(rec, 1, 4)
                  ELSE right(rec, 4) END AS blk
      FROM recs {expand}),
    cands AS (
      SELECT {hint}a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.rec AS rec_a, b.rec AS rec_b
      FROM blocked a JOIN blocked b
        ON a.lang = b.lang AND a.p = b.p AND a.blk = b.blk
           AND a.doc_id < b.doc_id
      -- pass de-overlap (cheaper than DISTINCT over all candidates): a
      -- pair sharing the prefix block is emitted by pass 0 alone; pass 1
      -- keeps only prefix-divergent pairs, so the union is disjoint by
      -- construction and no dedup exchange is needed
      WHERE a.p = 0 OR substr(a.rec, 1, 4) <> substr(b.rec, 1, 4)),
    pairs AS (
      SELECT doc_a, doc_b, CAST({lev} AS INT) AS dist FROM cands),
    matches AS (
      SELECT doc_a, doc_b, dist FROM pairs
      WHERE dist >= 0 AND dist <= {FUZZY_MAXDIST})
    """


def _fuzzy_sql(norm_fn, duck: bool) -> str:
    return _fuzzy_ctes(norm_fn, duck) + " SELECT doc_a, doc_b, dist FROM matches"


def fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import table
    from .textops import _NORM

    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    return spark.sql(_fuzzy_sql(_NORM.format(t="text"), duck=False))


def fuzzy_match_oracle() -> str:
    from .textops import _NORM_DUCK

    return _fuzzy_sql(_NORM_DUCK.format(t="text"), duck=True)


# ---------------------------------------------------------------------------
# dedup_recall — dedup-QUALITY evaluation (the audit every production
# dedup run ships with: how much of the known duplication did the
# approximate pass actually catch, and how much extra did it flag). The
# injected corpus (sources/corpus.py) gives exact ground truth by
# construction: (d, d+1M) exact copies for d%10=0, (d, d+2M) first-token-
# dropped near copies for d%10=5. The MinHash pipeline's predicted pairs
# are joined against that planted-truth frame and bucketed into
# detected / missed per class, plus the unplanted-detected remainder
# (legitimately-similar pairs MinHash also surfaces — not errors, but the
# operator wants them counted). Scale: the truth frame is a narrow
# projection of the corpus; the confusion join is an equi-join on the
# ordered pair key — one co-locatable shuffle on top of the minhash run
# itself. 100% of exact and near classes detected at every fixture SF is
# pinned in tests/test_llm_ops.py territory via the oracle hash.
# ---------------------------------------------------------------------------

_RECALL_BODY = """
truth AS (
  SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b, 'exact' AS dup_class
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id AS doc_a, doc_id + 2000000 AS doc_b, 'near' AS dup_class
  FROM documents WHERE doc_id % 10 = 5),
conf AS (
  SELECT coalesce(t.doc_a, p.doc_a) AS doc_a,
         CASE WHEN p.doc_a IS NULL THEN concat(t.dup_class, '_missed')
              WHEN t.doc_a IS NULL THEN 'unplanted_detected'
              ELSE concat(t.dup_class, '_detected') END AS pair_class
  FROM truth t FULL OUTER JOIN pred p
    ON t.doc_a = p.doc_a AND t.doc_b = p.doc_b)
SELECT pair_class, CAST(count(*) AS BIGINT) AS n_pairs
FROM conf GROUP BY pair_class
"""


def dedup_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tables import table

    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    minhash_neardup(spark, sf_dir).createOrReplaceTempView("pred_pairs")
    return spark.sql(
        "WITH pred AS (SELECT doc_a, doc_b FROM pred_pairs), " + _RECALL_BODY
    )


def dedup_recall_oracle() -> str:
    return (
        "WITH pred AS (SELECT doc_a, doc_b FROM ("
        + minhash_neardup_oracle()
        + ") mh), "
        + _RECALL_BODY
    )


# ---------------------------------------------------------------------------
# minhash_incremental — the CONTINUOUS-dedup shape: a delta batch deduped
# against an already-indexed corpus (plus within itself) WITHOUT
# re-pairing the index against itself. Production incremental dedup
# stores the narrow band index + shingle sketch as a table (~100 B/doc,
# ~10,000x smaller than the corpus text); each arriving batch sketches
# ONLY its own documents and band-joins against the stored index, so the
# per-batch cost is O(delta) sketch work + an equi-join whose delta side
# is batch-sized — never the O(corpus) re-sketch, and never the
# index-vs-index pair explosion (those pairs were already emitted when
# their docs arrived). Here the "stored" index is computed in-query
# (fixtures persist nothing between driver runs) with scoped_checkpoint
# staging standing in for the stored table; the candidate join is
# restricted to delta-on-the-left, which IS the incremental contract:
#   pairs emitted = (delta x index) ∪ (delta x delta), never
#   (index x index).
# Split: delta = doc_id % 3 == 0 (deterministic, ~1/3 of the corpus).
# Same sketch parameters as minhash_neardup (8 minhashes, 2 bands of 4,
# Jaccard >= 0.6 verify on exact int-shingle arrays).
# ---------------------------------------------------------------------------


def minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = doc_corpus(spark, sf_dir).selectExpr(
        "doc_id", "doc_id % 3 = 0 AS is_delta", "text"
    )
    sig, bands = _sketch_frames(base, ["is_delta"], ["is_delta"], "minc")
    # the incremental candidate join: LEFT side is the delta only — at
    # scale this is the batch-sized probe against the stored band index
    delta_bands = bands.filter("is_delta")
    a, b = delta_bands.alias("a"), bands.alias("b")
    pairs = (
        a.hint("shuffle_hash")
        .join(
            b,
            (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    x = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("is_delta").alias("delta_a"),
        F.col("sh").alias("sh_a"),
        F.col("n_sh").alias("na"),
    )
    y = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("is_delta").alias("delta_b"),
        F.col("sh").alias("sh_b"),
        F.col("n_sh").alias("nb"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        pairs.hint("shuffle_hash")
        .join(x, "doc_a")
        .hint("shuffle_hash")
        .join(y, "doc_b")
        .withColumn("jac", jac)
        .filter(F.col("jac") >= JAC_THRESHOLD)
        .select(
            "doc_a",
            "doc_b",
            F.round("jac", 4).alias("jaccard"),
            F.when(F.col("delta_a") & F.col("delta_b"), F.lit("in_delta"))
            .otherwise(F.lit("vs_index"))
            .alias("vs"),
        )
    )


def minhash_incremental_oracle() -> str:
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}),
    tk AS (SELECT doc_id, doc_id % 3 = 0 AS is_delta, text,
                  {T.TOKS_DUCK} AS toks FROM corpus),{_sketch_ctes_duck("is_delta")},
    pairs AS (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS doc_a,
                      greatest(a.doc_id, b.doc_id) AS doc_b
      FROM bands a JOIN bands b
        ON a.band_key = b.band_key AND a.band = b.band
           AND a.doc_id <> b.doc_id
      WHERE a.is_delta),
    j AS (
      SELECT p.doc_a, p.doc_b, x.is_delta AS delta_a, y.is_delta AS delta_b,
             CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(x.sh, y.sh))) AS jac
      FROM pairs p JOIN sig x ON x.doc_id = p.doc_a
                   JOIN sig y ON y.doc_id = p.doc_b)
    SELECT doc_a, doc_b, round(jac, 4) AS jaccard,
           CASE WHEN delta_a AND delta_b THEN 'in_delta'
                ELSE 'vs_index' END AS vs
    FROM j WHERE jac >= {JAC_THRESHOLD}
    """


# ---------------------------------------------------------------------------
# Exact substring deduplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr method): find every
# MAXIMAL token span of length >= K that occurs more than once anywhere in
# the corpus (cross-doc or within-doc). The paper removes these spans from
# training data; this operator emits the removal manifest.
#
# The paper builds a suffix array over the concatenated corpus — a global,
# memory-resident structure that does not distribute. The Spark-first
# respelling keeps the same answer with two keyed shuffles:
#
#   1. every K-gram position becomes a row (explode — O(total tokens)),
#      fingerprinted by md5 of the gram text (engine-independent; a
#      Rabin-Karp rolling hash would cut the O(K) slice per position to
#      O(1) amortized but is not portable to the DuckDB oracle, and md5
#      here is one call per position — the same cost class as the MinHash
#      sketch the pipeline already pays);
#   2. duplicated positions = windowed count over the fingerprint
#      partition (> 1 means the gram text occurs elsewhere) — ONE shuffle
#      on the 32-hex fingerprint, no self-join, no candidate explosion:
#      selectivity comes from exactness, so there is no verify stage;
#   3. maximal spans = the classic island merge (p − row_number per doc),
#      a doc_id-PARTITIONED window — per-partition state is O(dup
#      positions per doc), bounded by doc length.
#
# At 100 TB: step 1's explode is the token stream (the fingerprint row is
# ~40 bytes — smaller than the token it covers in real corpora); step 2's
# shuffle keys are uniform md5 so no skew (a pathological gram repeated
# millions of times — boilerplate headers — hot-keys ONE partition and is
# exactly the content this operator exists to delete; cap with a count
# pre-agg per (g, doc) if observed). K=8 over the fixture's ~40-word vocab
# keeps the random-collision expectation < 1e-2 pairs corpus-wide, so
# every emitted span is a genuine copy; production uses K=50 BPE tokens.
# ---------------------------------------------------------------------------

SUBSTR_K = 8


def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N84: maximal duplicated token spans (>= K tokens) across the corpus."""
    k = SUBSTR_K
    doc_corpus(spark, sf_dir).createOrReplaceTempView("corpus")
    return spark.sql(
        f"""
        WITH tk AS (SELECT doc_id, {T.TOKS_SPARK} AS toks FROM corpus),
        pos AS (
          SELECT doc_id, p, md5(concat_ws(' ', slice(toks, p, {k}))) AS g
          FROM tk LATERAL VIEW explode(
            slice(sequence(1, size(toks)), 1, greatest(size(toks) - {k - 1}, 0))
          ) t AS p),
        hit AS (
          SELECT doc_id, p FROM (
            SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS cnt FROM pos)
          WHERE cnt > 1),
        isl AS (
          SELECT doc_id, p,
                 p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
          FROM hit)
        SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
               CAST(max(p) + {k - 1} AS BIGINT) AS span_end,
               CAST(max(p) - min(p) + {k} AS BIGINT) AS n_dup_tokens
        FROM isl GROUP BY doc_id, island
        """
    )


def substring_dedup_oracle() -> str:
    k = SUBSTR_K
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}),
    tk AS (SELECT doc_id, {T.TOKS_DUCK} AS toks FROM corpus),
    pos AS (
      SELECT doc_id, CAST(i AS INT) AS p,
             md5(array_to_string(toks[i:i + {k - 1}], ' ')) AS g
      FROM tk, unnest(range(1, len(toks) - {k - 2})) AS t(i)),
    hit AS (
      SELECT doc_id, p FROM (
        SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS cnt FROM pos)
      WHERE cnt > 1),
    isl AS (
      SELECT doc_id, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM hit)
    SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
           CAST(max(p) + {k - 1} AS BIGINT) AS span_end,
           CAST(max(p) - min(p) + {k} AS BIGINT) AS n_dup_tokens
    FROM isl GROUP BY doc_id, island
    """


# ---------------------------------------------------------------------------
# Containment dedup — the asymmetric case Jaccard near-dup structurally
# misses: a short document CONTAINED in a long one (an excerpt, a quoted
# paragraph, a boilerplate block) has |A∩B|/|A| ≈ 1 but Jaccard
# |A∩B|/|A∪B| ≈ |A|/|B|, far below any near-dup threshold — and MinHash
# estimates Jaccard, so LSH banding rarely even surfaces the pair. The
# production framing is Broder's containment coefficient; candidate
# generation here is GRAM-ANCHORED instead of minhash-banded: two docs
# become a candidate pair iff they share at least one exact 8-token gram
# (the substring_dedup fingerprint — selective enough on real text that
# candidate count is linear in true shared content, where the 3-gram
# shingle inverted index would blow up on common shingles).
#
# The fixture corpus has no excerpt relationships, so — exactly like
# sources/corpus.py injects exact/near copies for the Jaccard family —
# this operator injects deterministic EXCERPTS (tokens 11-30 of every
# doc_id % 10 == 7 with >= 31 tokens, as doc_id + 3_000_000) and must
# (a) find each excerpt with containment ≈ 1.0 while
# (b) its Jaccard ≈ |A|/|B| ≈ 0.35 documents WHY the Jaccard operators
#     leave these pairs alone.
#
# Scale: gram explode is O(total tokens); the candidate self-join is an
# equi-join on the 32-hex gram key with per-key cost df² — df is the
# copy count of that exact 8-gram, i.e. cost linear in genuinely shared
# content (same argument as minhash band keys, sharper selectivity). The
# verify join attaches the two distinct-shingle arrays SHUFFLE_HASH on
# doc id (the minhash verify contract: both sides corpus-scaled, no
# broadcast). One array_intersect per candidate pair.
# ---------------------------------------------------------------------------

CONTAIN_TAU = 0.9
_EXC_LO, _EXC_LEN = 11, 20  # excerpt = tokens 11..30 (1-based)


def _contain_corpus(duck: bool) -> str:
    """Corpus ∪ injected excerpt docs (doc_id + 3e6), dialect-split."""
    if duck:
        toks = "string_split(text, ' ')"
        exc = f"array_to_string(({toks})[{_EXC_LO}:{_EXC_LO + _EXC_LEN - 1}], ' ')"
        n = f"len({toks})"
    else:
        toks = "split(text, ' ', -1)"
        exc = f"concat_ws(' ', slice({toks}, {_EXC_LO}, {_EXC_LEN}))"
        n = f"size({toks})"
    return f"""
    SELECT doc_id, text FROM corpus
    UNION ALL
    SELECT doc_id + 3000000 AS doc_id, {exc} AS text
    FROM corpus WHERE doc_id % 10 = 7 AND {n} >= {_EXC_LO + _EXC_LEN}
    """


def _containment_sql(duck: bool) -> str:
    k = SUBSTR_K
    if duck:
        toks, tlen = T.TOKS_DUCK, "len(toks)"
        ti = T.token_ints_duck("toks")
        sh = T.shingle_ints_duck("th", "text")
        gram = f"md5(array_to_string(toks[i:i + {k - 1}], ' '))"
        posrange = f"unnest(range(1, len(toks) - {k - 2})) AS t(i)"
        inter = "len(list_intersect(a.sh, b.sh))"
        hint = ""
    else:
        toks, tlen = T.TOKS_SPARK, "size(toks)"
        ti = T.token_ints_spark("toks")
        sh = T.shingle_ints_spark("th", "text")
        gram = f"md5(concat_ws(' ', slice(toks, i, {k})))"
        posrange = (
            f"LATERAL VIEW explode(slice(sequence(1, size(toks)), 1, "
            f"greatest(size(toks) - {k - 1}, 0))) t AS i"
        )
        inter = "size(array_intersect(a.sh, b.sh))"
        hint = "/*+ SHUFFLE_HASH(a, b) */ "
    join_kw = "," if duck else ""
    return f"""
    ccorp AS ({_contain_corpus(duck)}),
    tk AS (SELECT doc_id, text, {toks} AS toks FROM ccorp),
    shf AS (SELECT doc_id, sh, {"len(sh)" if duck else "size(sh)"} AS n_sh
            FROM (SELECT doc_id, text, {sh} AS sh
                  FROM (SELECT doc_id, text, {ti} AS th, toks FROM tk) h)),
    grams AS (SELECT DISTINCT doc_id, {gram} AS g
              FROM tk {join_kw} {posrange}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM grams a JOIN grams b
               ON a.g = b.g AND a.doc_id < b.doc_id),
    scored AS (
      SELECT {hint}c.doc_a, c.doc_b, {inter} AS n_int, a.n_sh AS n_a,
             b.n_sh AS n_b
      FROM cand c JOIN shf a ON a.doc_id = c.doc_a
                  JOIN shf b ON b.doc_id = c.doc_b)
    SELECT doc_a, doc_b,
           round(n_int / CAST(n_a AS DOUBLE), 4) AS containment_a_in_b,
           round(n_int / CAST(n_b AS DOUBLE), 4) AS containment_b_in_a,
           round(n_int / CAST(n_a + n_b - n_int AS DOUBLE), 4) AS jaccard
    FROM scored
    WHERE greatest(n_int / CAST(n_a AS DOUBLE),
                   n_int / CAST(n_b AS DOUBLE)) >= {CONTAIN_TAU}
    """


def containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N87: containment-coefficient near-dup (excerpt-in-document).

    r10 measured non-change (guide §1.1, the q_pagerank lesson): the
    textual plan expands `shf` and `grams` per join-side reference (48
    document scans / 16 Exchanges,
    plans/r10/q_containment_dedup_before.txt), so a staged spelling
    (both frames scoped_checkpoint'ed once) was built and gate-checked.
    Interleaved fresh-JVM A/B in steal-quiet windows read the staged
    version SLOWER: 2.2–2.9 s wall / ~19–20 s CPU per 4 runs vs
    1.9–2.2 s / ~18 s inline. Both duplicated subtrees are IDENTICAL
    across their references (a self-join and a two-sided read of one
    frame), which is exactly the case AQE's ReusedExchange dedups at
    runtime — the runtime plan computes each subtree once and the
    staging only added two serialized checkpoint actions plus
    non-codegen block-manager scans. Inline spelling kept; the staging
    recipe stays the right one when the referenced subtrees are NOT
    identical (see er_links/kcore, where it halves real CPU)."""
    doc_corpus(spark, sf_dir).createOrReplaceTempView("corpus")
    return spark.sql("WITH " + _containment_sql(duck=False))


def containment_dedup_oracle() -> str:
    return (
        f"WITH corpus AS ({DOC_CORPUS_SQL}), " + _containment_sql(duck=True)
    )


# ---------------------------------------------------------------------------
# Streaming ExactSubstr — the substring_dedup index as a stream, and a
# counterexample worth stating: duplicated SPANS are NOT append-only
# emittable. A later batch can extend or merge a span an earlier batch
# would have emitted (its doc duplicates the adjacent grams), so
# per-batch span emission would need retractions. The mergeable carrier
# is therefore the GRAM-POSITION INDEX — (doc_id, p, fingerprint) rows,
# append-only, O(total tokens) state (the distributed analog of the
# suffix array the batch paper builds; ~40 bytes/token) — and the
# duplication report is re-derived at read, exactly the keyed-counts /
# re-derive split of q_stream_constraint_audit's uniqueness leg.
# Because gram duplication is a corpus-global property of the
# accumulated position set, the read-time report over ANY partition of
# the corpus into batches equals the one-shot answer: checked through
# the gate against the batch q_substring_dedup oracle VERBATIM.
#
# Per-batch cost: the batch's own explode + one parquet append — no
# snapshot rewrite, no join against the index at ingest time (contrast
# _merge_minhash, which must probe at ingest because it EMITS pairs
# incrementally; here emission is deferred to read). At-least-once
# safety: same-batch-id replay is fenced by the marker; cross-restart
# re-delivery under a new batch id appends duplicate position rows,
# absorbed by the (doc_id, p) dedup on read (identical by
# construction, any winner correct — the _merge_minhash doc_id
# pattern, keyed one level finer).
# ---------------------------------------------------------------------------


def _merge_substr(batch_df: DataFrame, snap: str, batch_id: int) -> None:
    if passes.applied(snap, batch_id):
        return
    k = SUBSTR_K
    grams = (
        batch_df.selectExpr("doc_id", f"{T.TOKS_SPARK} AS toks")
        .selectExpr(
            "doc_id", "toks",
            f"explode(slice(sequence(1, size(toks)), 1, "
            f"greatest(size(toks) - {k - 1}, 0))) AS p",
        )
        .selectExpr(
            "doc_id", "p", f"md5(concat_ws(' ', slice(toks, p, {k}))) AS g"
        )
    )
    grams.write.mode("append").parquet(snap)
    passes.mark_applied(snap, batch_id)


def stream_substring_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16, oracle-checked: two availableNow passes maintain the
    gram-position index over the parity-split corpus; the read-time span
    report must hash-match the one-shot batch q_substring_dedup."""
    k = SUBSTR_K
    corpus = doc_corpus(spark, sf_dir).select("doc_id", "text")
    snap = passes.two_pass(
        spark, sf_dir, "t16_substr_", corpus.filter("doc_id % 2 = 0"),
        corpus.filter("doc_id % 2 = 1"),
        passes.foreach_merge(
            spark, "doc_id bigint, text string",
            lambda _, df, out, bid: _merge_substr(df, out, bid),
        ),
    )
    spark.read.parquet(snap).dropDuplicates(["doc_id", "p"]).createOrReplaceTempView(
        "substr_index"
    )
    return spark.sql(
        f"""
        WITH hit AS (
          SELECT doc_id, p FROM (
            SELECT doc_id, p, count(*) OVER (PARTITION BY g) AS cnt
            FROM substr_index)
          WHERE cnt > 1),
        isl AS (
          SELECT doc_id, p,
                 p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS island
          FROM hit)
        SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
               CAST(max(p) + {k - 1} AS BIGINT) AS span_end,
               CAST(max(p) - min(p) + {k} AS BIGINT) AS n_dup_tokens
        FROM isl GROUP BY doc_id, island
        """
    )


# ---------------------------------------------------------------------------
# hamming_sweep — the dedup-threshold OPERATING CURVE: the banded
# 64-bit SimHash candidate pairs histogrammed by Hamming distance, with
# cumulative pair counts per cut. q_simhash_wide ships Manku's fixed
# Hamming ≤ 3; this table is where that number gets TUNED — it shows,
# per candidate cut, how many pairs a pipeline would merge, so the
# reviewer picks the knee instead of inheriting folklore (the dedup
# twin of q_pr_curve's threshold table and q_lateness_profile's
# watermark cut). Candidates are the SAME pigeonhole band join (pairs
# agreeing on ≥1 of 4 16-bit bands), so cumulative counts at cut 3
# reproduce q_simhash_wide's pair count exactly — pinned.
#
# All-integer; the histogram frame is O(49) rows (Hamming of a 64-bit
# fingerprint restricted to band-collision candidates).
# ---------------------------------------------------------------------------


def _hamming_sweep_tail(hint: str, xor2: str) -> str:
    return f"""
    bands AS (
      SELECT doc_id, lang, hi, lo, p,
             {{band}} AS band
      FROM s {{explode4}}),
    pairs AS (
      SELECT {hint} DISTINCT
             a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.hi AS hi_a, a.lo AS lo_a, b.hi AS hi_b, b.lo AS lo_b
      FROM bands a JOIN bands b
        ON a.lang = b.lang AND a.p = b.p AND a.band = b.band
           AND a.doc_id < b.doc_id),
    h AS (SELECT CAST({xor2} AS BIGINT) AS hamming FROM pairs),
    g AS (SELECT hamming, CAST(count(*) AS BIGINT) AS n_pairs
          FROM h GROUP BY hamming)
    SELECT hamming, n_pairs,
           CAST(sum(n_pairs) OVER (ORDER BY hamming
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS BIGINT) AS cum_pairs
    FROM g
    """


def hamming_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N168: candidate-pair Hamming histogram — the dedup tuning table."""
    s = scoped_checkpoint(
        _simhash_wide_frame(spark, sf_dir), "hamming_sweep_frame"
    )
    s.createOrReplaceTempView("hamming_sweep_v")
    tail = _hamming_sweep_tail(
        "/*+ SHUFFLE_HASH(a, b) */",
        "bit_count(hi_a ^ hi_b) + bit_count(lo_a ^ lo_b)",
    ).format(
        band="shiftright(CASE WHEN p < 2 THEN lo ELSE hi END,"
             " 16 * (p % 2)) & 65535",
        explode4="LATERAL VIEW explode(sequence(0, 3)) t AS p",
    )
    return spark.sql("WITH s AS (SELECT * FROM hamming_sweep_v)," + tail)


def hamming_sweep_oracle() -> str:
    tail = _hamming_sweep_tail(
        "",
        "bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b))",
    ).format(
        band="((CASE WHEN p < 2 THEN lo ELSE hi END)"
             " >> (16 * (p % 2))) & 65535",
        explode4=", range(0, 4) AS t(p)",
    )
    return f"""
    WITH corpus AS ({DOC_CORPUS_SQL}),
    tk AS (SELECT doc_id, lang, {T.TOKS_DUCK} AS toks FROM corpus),
    th AS (SELECT doc_id, lang,
                  {T.token_words_duck(T.token_hashes_duck('toks'))} AS ws
           FROM tk),
    s AS (SELECT doc_id, lang, {T.simhash64_hi_duck()} AS hi,
                 {T.simhash64_lo_duck()} AS lo FROM th),
    {tail}
    """


# ---------------------------------------------------------------------------
# er_links — the MATCH step completing fuzzy_match's block→compare→match
# ER pipeline: collapse the candidate pair soup into 1:1 entity links by
# RECIPROCAL best match — each record's closest candidate (min distance),
# kept only when the choice is mutual. One-sided argmins produce chains
# (A→B→C) that over-merge entities; mutuality is the standard guard
# (the record-linkage analogue of reciprocal-nearest-neighbor
# clustering). Determinism: the per-record argmin is the exact integer
# key min(dist·10¹⁰ + partner_id) — distance first, lowest partner id
# as the tiebreak — no min_by nondeterminism, no floats anywhere.
# Scale shape: symmetrize the (already-blocked) match pairs (narrow
# union), ONE groupBy-src argmin shuffle, then a self equi-join on
# (src, dst) for the mutuality check — all corpus-scaled joins stay
# equi-keyed; the quadratic surface was already bounded by fuzzy_match's
# blocking.
# ---------------------------------------------------------------------------


def _er_links_sql(norm_fn, duck: bool, idiv: str) -> str:
    enc = "CAST(10000000000 AS BIGINT)"
    return (
        _fuzzy_ctes(norm_fn, duck)
        + f""",
    sym AS (SELECT doc_a AS src, doc_b AS dst, dist FROM matches
            UNION ALL
            SELECT doc_b AS src, doc_a AS dst, dist FROM matches),
    best AS (SELECT src,
                    CAST(min(CAST(dist AS BIGINT) * {enc} + dst)
                         AS BIGINT) AS k,
                    CAST(count(*) AS BIGINT) AS n_candidates
             FROM sym GROUP BY src),
    link AS (SELECT src, CAST(k {idiv} {enc} AS INT) AS dist,
                    CAST(k % {enc} AS BIGINT) AS dst, n_candidates
             FROM best)
    SELECT a.src AS doc_a, a.dst AS doc_b, a.dist,
           a.n_candidates AS cand_a, b.n_candidates AS cand_b
    FROM link a JOIN link b ON a.dst = b.src AND b.dst = a.src
    WHERE a.src < b.src
    """
    )


#: min-encode base for er_links' (dist, dst) -> BIGINT argmin key.
ER_ENC = 10_000_000_000
#: largest dist the encode can carry without BIGINT overflow:
#: dist * ER_ENC + dst < 2^63 for every dst < ER_ENC.
ER_MAX_DIST = (2**63 - 1) // ER_ENC - 1


def _er_minenc_sql(dist: str, dst: str) -> str:
    """Guarded (dist, dst) -> dist*ER_ENC + dst min-encode (VERDICT r10
    #7): the packing silently assumed dst < 10^10 and dist small enough
    not to overflow BIGINT — fine for every fixture, but an UNDECLARED
    scale assumption. A corpus whose doc ids (or distances) breach the
    bound now fails loudly at runtime instead of silently corrupting the
    argmin; the guard is a codegen'd per-row comparison, not an extra
    pass."""
    return (
        f"CASE WHEN {dst} < 0 OR {dst} >= {ER_ENC} "
        f"OR {dist} < 0 OR {dist} > {ER_MAX_DIST} "
        f"THEN CAST(raise_error(concat('er_links min-encode out of range "
        f"(requires 0 <= dst < 1e10, 0 <= dist <= 9.2e8): dist=', "
        f"CAST({dist} AS STRING), ' dst=', CAST({dst} AS STRING))) "
        f"AS BIGINT) "
        f"ELSE CAST({dist} AS BIGINT) * CAST({ER_ENC} AS BIGINT) + {dst} END"
    )


def er_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N186: reciprocal-best-match 1:1 entity links over blocked candidates.

    r10 staging (guide §2.4): the inline CTE spelling re-derived the whole
    fuzzy-match pipeline (normalize → block → levenshtein) FOUR times —
    `link` is referenced on both sides of the reciprocal join and `sym`
    reads `matches` twice, which Spark expands to 48 document scans / 24
    exchanges in one plan (plans/r10/q_er_links_before.txt). The
    levenshtein stage is materialized ONCE ("er_matches"), the per-node
    best-match fold once ("er_link"); the reciprocal join then reads the
    tiny staged link frame twice. Same rows at every step — the oracle SQL
    is unchanged (DuckDB materializes multi-referenced CTEs itself)."""
    from ..checkpoints import scoped_checkpoint
    from ..tables import table
    from .textops import _NORM

    enc = "CAST(10000000000 AS BIGINT)"
    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    matches = scoped_checkpoint(
        spark.sql(
            _fuzzy_ctes(_NORM.format(t="text"), duck=False)
            + " SELECT doc_a, doc_b, dist FROM matches"
        ),
        "er_matches",
    )
    matches.createOrReplaceTempView("er_matches_v")
    link = scoped_checkpoint(
        spark.sql(
            f"""
            WITH sym AS (SELECT doc_a AS src, doc_b AS dst, dist
                         FROM er_matches_v
                         UNION ALL
                         SELECT doc_b AS src, doc_a AS dst, dist
                         FROM er_matches_v),
            best AS (SELECT src,
                            CAST(min({_er_minenc_sql("dist", "dst")})
                                 AS BIGINT) AS k,
                            CAST(count(*) AS BIGINT) AS n_candidates
                     FROM sym GROUP BY src)
            SELECT src, CAST(k div {enc} AS INT) AS dist,
                   CAST(k % {enc} AS BIGINT) AS dst, n_candidates
            FROM best
            """
        ),
        "er_link",
    )
    link.createOrReplaceTempView("er_link_v")
    return spark.sql(
        """
        SELECT a.src AS doc_a, a.dst AS doc_b, a.dist,
               a.n_candidates AS cand_a, b.n_candidates AS cand_b
        FROM er_link_v a JOIN er_link_v b
          ON a.dst = b.src AND b.dst = a.src
        WHERE a.src < b.src
        """
    )


def er_links_oracle() -> str:
    from .textops import _NORM_DUCK

    return _er_links_sql(_NORM_DUCK.format(t="text"), True, "//")


# ---------------------------------------------------------------------------
# lsh_s_curve — does the shipped LSH banding behave like the THEORY says?
# For a MinHash scheme with b bands of r rows, a pair with true Jaccard j
# becomes a candidate with probability 1 − (1 − jʳ)ᵇ — the S-curve every
# banding parameter choice is made from. This audit builds a deterministic
# pair sample that actually SPANS the curve — random md5 pairs for the
# j ≈ 0 tail plus PREFIX-TRUNCATED copies (drop 0–45% of tokens, cut
# depth keyed to the sample index) for the j ≈ 0.5–1.0 arm — computes
# each pair's EXACT shingle Jaccard and whether its minhash signatures
# actually band-collide, and compares the measured collision rate per
# Jaccard decile with the mean theoretical curve. dedup_recall audits
# RECALL on planted pairs; this audits the PROBABILITY MODEL itself —
# the calibration a dedup platform runs before trusting (b, r) at a new
# threshold.
# Exactness: collisions are integer band-key equalities; per-pair theory
# is pure mul/sub on the exact-division Jaccard double (no pow — libm
# pow is not exactly rounded); bucket means via the 9 dp DECIMAL
# exact-sum discipline; the truncation start index is an exact integer
# division.
# Scale: the pair sample is CONSTANT-sized (SC_PAIRS); the corpus ∪
# mutants frame is sketched ONCE and each pair leg equi-joins it by
# doc_id — the corpus never self-joins.
# ---------------------------------------------------------------------------

SC_PAIRS = 400  # half mutated-copy pairs, half random pairs
_SC_MUT_BASE = 10_000_000


def _sc_band_collide() -> str:
    b0 = " AND ".join(f"x.m{s} = y.m{s}" for s in range(T.BAND_SIZE))
    b1 = " AND ".join(
        f"x.m{s} = y.m{s}" for s in range(T.BAND_SIZE, T.N_HASHES)
    )
    return f"(({b0}) OR ({b1}))"


def _sc_sample_sql(md5a: str, md5b: str, gen_i: str, idiv: str) -> str:
    """Shared sample CTEs: ``samp`` (mutated-copy pairs: source doc a,
    cut decile, mutant id) and ``spl`` (all scored pairs a, b)."""
    half = SC_PAIRS // 2
    return f"""
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    gen AS (SELECT i FROM {gen_i}),
    samp AS (SELECT g.i, {md5a} % nn.n AS a,
                    CAST(g.i % 10 AS BIGINT) AS cut
             FROM (SELECT i FROM gen WHERE i < {half}) g CROSS JOIN nn),
    rnd AS (SELECT DISTINCT least({md5a} % nn.n, {md5b} % nn.n) AS a,
                   greatest({md5a} % nn.n, {md5b} % nn.n) AS b
            FROM (SELECT i FROM gen WHERE i >= {half}) g CROSS JOIN nn),
    spl AS (SELECT a, CAST({_SC_MUT_BASE} + i AS BIGINT) AS b FROM samp
            UNION ALL
            SELECT a, b FROM rnd WHERE a <> b)
    """


def _sc_mut_sql(toks: str, slicer: str, joiner: str, idiv: str) -> str:
    """The mutant corpus: drop the first cut/20 fraction of tokens."""
    start = f"1 + (({slicer.format(toks=toks)}) * s.cut) {idiv} 20"
    return f"""
    mut AS (SELECT CAST({_SC_MUT_BASE} + s.i AS BIGINT) AS doc_id,
                   {joiner.format(toks=toks, start=start)} AS text
            FROM samp s JOIN documents d ON d.doc_id = s.a),
    corpus AS (SELECT doc_id, text FROM documents
               UNION ALL SELECT doc_id, text FROM mut)
    """


def _sc_tail_sql(jac: str, idiv: str) -> str:
    theory = (
        "(CAST(1 AS DOUBLE) - (CAST(1 AS DOUBLE) - j4) "
        "* (CAST(1 AS DOUBLE) - j4))"
    )
    return f"""
    scored AS (SELECT p.a, p.b, {jac} AS jac,
                      CASE WHEN {_sc_band_collide()} THEN 1 ELSE 0 END
                        AS collide
               FROM spl p JOIN sig x ON x.doc_id = p.a
                          JOIN sig y ON y.doc_id = p.b),
    terms AS (SELECT least(CAST(floor(jac * 10) AS BIGINT),
                           CAST(9 AS BIGINT)) AS bucket,
                     collide,
                     CAST(round(jac, 9) AS DECIMAL(38, 9)) AS jac_d,
                     CAST(round({theory}, 9) AS DECIMAL(38, 9)) AS th_d
              FROM (SELECT a, b, jac, collide, jac * jac * jac * jac AS j4
                    FROM scored) s)
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(collide) AS BIGINT) AS n_collide,
           CAST(sum(collide) * 10000 {idiv} count(*) AS BIGINT)
             AS rate_bp,
           round(CAST(sum(jac_d) AS DOUBLE) / count(*), 6) AS mean_j_r6,
           round(CAST(sum(th_d) AS DOUBLE) / count(*), 6) AS theory_r6
    FROM terms GROUP BY bucket
    """


def lsh_s_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N200: measured vs theoretical LSH S-curve on a spanning pair sample."""
    from ..tables import table

    table(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    md5a = (
        "CAST(conv(substr(md5(concat('sc-a#', CAST(g.i AS STRING))), "
        "1, 12), 16, 10) AS BIGINT)"
    )
    md5b = (
        "CAST(conv(substr(md5(concat('sc-b#', CAST(g.i AS STRING))), "
        "1, 12), 16, 10) AS BIGINT)"
    )
    gen = f"(SELECT explode(sequence(0, {SC_PAIRS - 1})) AS i) t"
    sample = _sc_sample_sql(md5a, md5b, gen, "div")
    mut = _sc_mut_sql(
        "split(d.text, ' ', -1)",
        "size({toks})",
        "concat_ws(' ', slice({toks}, CAST(({start}) AS INT), 1000000))",
        "div",
    )
    corpus = spark.sql(
        "WITH " + sample + "," + mut + " SELECT doc_id, text FROM corpus"
    )
    sig, _ = _sketch_frames(corpus, [], [], "scurve")
    sig.createOrReplaceTempView("sig")
    jac = (
        "CAST(size(array_intersect(x.sh, y.sh)) AS DOUBLE) "
        "/ size(array_union(x.sh, y.sh))"
    )
    return spark.sql(
        "WITH " + sample + "," + _sc_tail_sql(jac, "div")
    )


def lsh_s_curve_oracle() -> str:
    md5a = (
        "CAST(concat('0x', substr(md5(concat('sc-a#', "
        "CAST(g.i AS VARCHAR))), 1, 12)) AS BIGINT)"
    )
    md5b = (
        "CAST(concat('0x', substr(md5(concat('sc-b#', "
        "CAST(g.i AS VARCHAR))), 1, 12)) AS BIGINT)"
    )
    gen = f"(SELECT unnest(range(0, {SC_PAIRS})) AS i) t"
    sample = _sc_sample_sql(md5a, md5b, gen, "//")
    mut = _sc_mut_sql(
        "string_split(d.text, ' ')",
        "len({toks})",
        "array_to_string(list_slice({toks}, CAST(({start}) AS BIGINT), "
        "100000000), ' ')",
        "//",
    )
    jac = (
        "CAST(len(list_intersect(x.sh, y.sh)) AS DOUBLE) "
        "/ len(list_distinct(list_concat(x.sh, y.sh)))"
    )
    return (
        "WITH "
        + sample
        + ","
        + mut
        + f", tk AS (SELECT doc_id, text, {T.TOKS_DUCK} AS toks "
        "FROM corpus),"
        + _sketch_ctes_duck()
        + ","
        + _sc_tail_sql(jac, "//")
    )
