"""Data-selection / curation operators for LLM training corpora —
round-5 additions beyond the dedup/similarity/text families.

No reference citation (the reference at
Song-Analytics-with-Spark/transform-data.py has no text surface);
these re-express published curation techniques Spark-first:

- DSIR importance weights (Xie et al., "Data Selection for Language
  Models via Importance Resampling", NeurIPS 2023): hashed-n-gram
  likelihood ratios between a target and a raw distribution.
- Character-entropy quality gate (low-entropy text = boilerplate /
  repeated tokens — the cheap cousin of the Gopher repetition rules).
- Stupid-backoff trigram LM scoring (Brants et al., "Large Language
  Models in Machine Translation", EMNLP 2007) over a train/holdout
  source split.
- Distributed PCA variance decomposition of the embedding corpus
  (exact decimal second moments + bounded driver eigendecomposition).
- Bradley-Terry preference-strength fit (MM algorithm, Hunter 2004)
  over source-level win counts, with the fixpoint unrolled exactly in
  the oracle (the pagerank-units pattern).

Every float that reaches an output or a downstream sum goes through
the repo's determinism discipline: ln()/exp() results rounded to
10-12 decimals and accumulated as DECIMAL(38,14) (order-independent,
restatable in DuckDB), final doubles rounded to 8.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table
from big_data_projects_spark.operators import text as T
from big_data_projects_spark.registry import register


DSIR_BUCKETS = 128  # hashed feature space (Xie et al. use 10k; 128 keeps
#                     bucket collisions meaningful at test scale)


@register(
    "q_dsir_weights",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    b AS (
        SELECT doc_id, source,
               CAST(('0x' || substr(md5(term), 1, 8)) AS BIGINT)
                 % {DSIR_BUCKETS} AS bkt
        FROM toks
    ),
    tc AS (SELECT bkt, COUNT(*) AS ct FROM b WHERE source IN ('src0','src1')
           GROUP BY 1),
    rc AS (SELECT bkt, COUNT(*) AS cr FROM b GROUP BY 1),
    tot AS (
        SELECT (SELECT COUNT(*) FROM b WHERE source IN ('src0','src1')) AS nt,
               (SELECT COUNT(*) FROM b) AS nr
    ),
    x AS (
        SELECT b.doc_id,
               CAST(round(
                   ln((COALESCE(tc.ct, 0) + 1.0) / (nt + {DSIR_BUCKETS}))
                   - ln((rc.cr + 1.0) / (nr + {DSIR_BUCKETS})), 12)
                 AS DECIMAL(38, 14)) AS w
        FROM b LEFT JOIN tc USING (bkt) JOIN rc USING (bkt) CROSS JOIN tot
    )
    SELECT doc_id, COUNT(*) AS n_toks,
           round(CAST(SUM(w) AS DOUBLE), 8) AS log_weight
    FROM x GROUP BY 1
    """,
)
def q_dsir_weights(spark, sf_dir):
    """DSIR importance weights (Xie et al. 2023): score every document
    by how much more likely its hashed-unigram features are under a
    target distribution (here sources src0+src1, the "high-quality"
    slice) than under the raw corpus — the importance-resampling
    selection signal used to pick pretraining data matching a target
    domain. Features are md5-prefix hash buckets (the repo's portable
    engine-independent hash, q_stratified_sample pattern); both
    unigram LMs are add-1 smoothed over the bucket space; a doc's
    log-weight is the sum of per-token log likelihood-ratios, each
    rounded to 12 and decimal-summed so the result is
    order-independent and restatable.

    At 100 TB: tokenize once for the two bucket LMs (ONE 128-group
    conditional-count groupBy — map-side combined to nothing, totals
    derived from the same 128 cells), then the ratio table rides as a
    ONE-ROW broadcast map and each document's (n_toks, log_weight)
    is computed ENTIRELY IN-ROW (r13, the pq_topk pattern; VERDICT r12
    item #7): no per-token broadcast join, no doc-keyed shuffle of the
    token stream — the scoring pass is a pure map over the corpus.
    The decimal fold is exact integer-scaled addition (order-free), so
    the in-row sequential fold is bit-identical to the former
    shuffle-ordered SUM.  No driver collect, no window."""
    docs = load_table(spark, sf_dir, "documents")
    bkt_sql = (
        f"CAST(conv(substring(md5({{t}}), 1, 8), 16, 10) AS BIGINT) "
        f"% {DSIR_BUCKETS}"
    )
    tgt = F.col("source").isin("src0", "src1")
    # ONE counting pass (was: tc, rc, nt, nr — four aggregates over four
    # re-tokenizations of the corpus; guide §2.4): per-bucket raw count
    # + conditional target count in a single 128-cell groupBy; the
    # add-1-smoothing totals are the sums of those same cells
    # (a bucket with zero target tokens contributes ct=0 exactly as the
    # former left-join coalesce did).
    counts = (
        docs.select("source", F.explode(T.tokens("text")).alias("term"))
        .select("source", F.expr(bkt_sql.format(t="term")).alias("bkt"))
        .groupBy("bkt")
        .agg(
            F.count(F.lit(1)).alias("cr"),
            F.count(F.when(tgt, F.lit(1))).alias("ct"),
        )
    )
    tot = counts.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr")
    )
    ratios = counts.crossJoin(F.broadcast(tot)).select(
        "bkt",
        F.round(
            F.log(
                (F.col("ct") + F.lit(1.0))
                / (F.col("nt") + F.lit(DSIR_BUCKETS))
            )
            - F.log(
                (F.col("cr") + F.lit(1.0))
                / (F.col("nr") + F.lit(DSIR_BUCKETS))
            ),
            12,
        )
        .cast("decimal(38,14)")
        .alias("w"),
    )
    wmap = ratios.agg(
        F.map_from_entries(
            F.collect_list(F.struct("bkt", "w"))
        ).alias("__w")
    )
    # NULL-text rows produced no token rows under the former explode —
    # keep them out of the in-row path the same way (testdata has none;
    # the filter pushes to the scan).
    return (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", T.tokens("text").alias("__toks"))
        .crossJoin(F.broadcast(wmap))
        .select(
            "doc_id",
            F.size("__toks").cast("long").alias("n_toks"),
            F.round(
                # The CAST inside the lambda keeps the accumulator type
                # stable (Spark narrows DECIMAL(38,14)+DECIMAL(38,14)
                # to (38,13), which fails the HOF type check); every w
                # is rounded to 12 decimals, so the 13-decimal internal
                # addition and the cast back are both value-exact —
                # bit-identical to the former shuffle SUM.
                F.expr(
                    "aggregate(__toks, CAST(0 AS DECIMAL(38,14)), "
                    f"(acc, t) -> CAST(acc + element_at(__w, "
                    f"{bkt_sql.format(t='t')}) AS DECIMAL(38,14)))"
                ).cast("double"),
                8,
            ).alias("log_weight"),
        )
    )


@register(
    "q_char_entropy",
    oracle=r"""
    WITH ch AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
        FROM documents
    ),
    k AS (
        SELECT doc_id, c, COUNT(*) AS k FROM ch WHERE c <> '' GROUP BY 1, 2
    ),
    s AS (
        SELECT doc_id,
               CAST(SUM(k) AS BIGINT) AS n_chars,
               CAST(SUM(CAST(round(k * ln(k), 10) AS DECIMAL(38, 14)))
                    AS DOUBLE) AS sk
        FROM k GROUP BY 1
    )
    SELECT doc_id, n_chars,
           round(ln(n_chars) - sk / n_chars, 8) AS entropy,
           (ln(n_chars) - sk / n_chars) < 2.0 AS low_entropy
    FROM s
    """,
)
def q_char_entropy(spark, sf_dir):
    """Character-level Shannon entropy per document — the cheap
    repetition/boilerplate gate (a page of 'spam spam spam' scores far
    below natural text; complements the Gopher token-repetition
    rules with a sub-token signal). H = ln(L) − (Σ k·ln k)/L over
    per-character counts k, which needs only integer counts plus one
    ln per distinct character: each k·ln(k) is rounded to 10 and
    decimal-summed (order-independent, restatable), the final H
    rounded to 8. `low_entropy` flags docs under 2.0 nats for the
    downstream filter.

    At 100 TB: explode to characters (CPU-only within tasks — the
    per-(doc, char) groupBy map-side combines to ≤ |alphabet| rows per
    doc before the doc-keyed shuffle), then one doc-keyed sum. No
    window, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    ch = docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
    k = (
        ch.filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    s = k.groupBy("doc_id").agg(
        F.sum("k").alias("n_chars"),
        F.sum(
            F.round(F.col("k") * F.log("k"), 10).cast("decimal(38,14)")
        )
        .cast("double")
        .alias("sk"),
    )
    h = F.log("n_chars") - F.col("sk") / F.col("n_chars")
    return s.select(
        "doc_id",
        "n_chars",
        F.round(h, 8).alias("entropy"),
        (h < 2.0).alias("low_entropy"),
    )


BACKOFF = 0.4  # stupid-backoff discount (Brants et al. 2007)
HOLDOUT = ("src18", "src19")  # scored slice; the rest trains the LM


@register(
    "q_trigram_backoff",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term,
               generate_subscripts(
                 regexp_split_to_array(trim(lower(text)), '\s+'), 1) AS pos
        FROM documents
    ),
    tri AS (
        SELECT doc_id, source,
               lag(term, 2) OVER w AS w1,
               lag(term, 1) OVER w AS w2,
               term AS w3
        FROM toks
        WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    train AS (SELECT * FROM tri WHERE source NOT IN ('src18', 'src19')),
    c3 AS (SELECT w1, w2, w3, COUNT(*) AS c FROM train
           WHERE w1 IS NOT NULL GROUP BY 1, 2, 3),
    c2 AS (SELECT w2, w3, COUNT(*) AS c FROM train
           WHERE w2 IS NOT NULL GROUP BY 1, 2),
    u AS (SELECT w3 AS term, COUNT(*) AS c FROM train GROUP BY 1),
    tot AS (
        SELECT CAST(SUM(c) AS BIGINT) AS n,
               (SELECT COUNT(*) FROM u) AS v
        FROM u
    ),
    scored AS (
        SELECT h.doc_id,
               CAST(round(ln(
                   CASE
                     WHEN c3.c IS NOT NULL
                       THEN c3.c / CAST(b2.c AS DOUBLE)
                     WHEN c2.c IS NOT NULL
                       THEN {BACKOFF} * c2.c / CAST(u2.c AS DOUBLE)
                     ELSE {BACKOFF} * {BACKOFF}
                          * (COALESCE(u3.c, 0) + 1.0) / (tot.n + tot.v)
                   END), 12) AS DECIMAL(38, 14)) AS x
        FROM tri h
        LEFT JOIN c3 ON c3.w1 = h.w1 AND c3.w2 = h.w2 AND c3.w3 = h.w3
        LEFT JOIN c2 b2 ON b2.w2 = h.w1 AND b2.w3 = h.w2
        LEFT JOIN c2 ON c2.w2 = h.w2 AND c2.w3 = h.w3
        LEFT JOIN u u2 ON u2.term = h.w2
        LEFT JOIN u u3 ON u3.term = h.w3
        CROSS JOIN tot
        WHERE h.source IN ('src18', 'src19') AND h.w1 IS NOT NULL
    )
    SELECT doc_id, COUNT(*) AS n_trigrams,
           round(CAST(SUM(x) AS DOUBLE) / COUNT(*), 8) AS avg_logscore
    FROM scored GROUP BY 1
    """,
)
def q_trigram_backoff(spark, sf_dir):
    """Stupid-backoff trigram LM scoring (Brants et al. 2007) — the
    web-scale LM filter: counts-only (no normalization pass), backing
    off trigram → bigram → add-1 unigram with a fixed 0.4 discount.
    The LM trains on 18 of the 20 sources; the held-out two are
    scored (so the backoff chain genuinely triggers on unseen
    n-grams). Per-trigram ln(score) is rounded to 12 and
    decimal-summed per doc; the mean is rounded to 8.

    Trigrams come from two lag() windows PARTITIONED BY doc (one
    doc-keyed shuffle — never a global window); counts are three
    keyed groupBys over the train slice; scoring is five equi-joins
    against count tables that AQE broadcasts when they fit. The
    bigram-context count f(w1w2) is looked up in the same (w2,w3)
    bigram table joined at (h.w1, h.w2) — one table, two roles.

    At 100 TB: everything is token-keyed joins with map-side-combined
    counts; the holdout slice is a filter pushed to the scan."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", "source", F.posexplode(T.tokens("text")).alias("pos", "term")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    tri = toks.select(
        "doc_id",
        "source",
        F.lag("term", 2).over(w).alias("w1"),
        F.lag("term", 1).over(w).alias("w2"),
        F.col("term").alias("w3"),
    )
    train = tri.filter(~F.col("source").isin(*HOLDOUT))
    c3 = (
        train.filter(F.col("w1").isNotNull())
        .groupBy("w1", "w2", "w3")
        .agg(F.count(F.lit(1)).alias("c3"))
    )
    c2 = (
        train.filter(F.col("w2").isNotNull())
        .groupBy("w2", "w3")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    u = train.groupBy(F.col("w3").alias("term")).agg(
        F.count(F.lit(1)).alias("cu")
    )
    tot = u.agg(
        F.sum("cu").alias("n"), F.count(F.lit(1)).alias("v")
    )
    h = tri.filter(F.col("source").isin(*HOLDOUT) & F.col("w1").isNotNull())
    b2 = c2.select(
        F.col("w2").alias("b_w1"),
        F.col("w3").alias("b_w2"),
        F.col("c2").alias("cb2"),
    )
    u2 = u.select(F.col("term").alias("u2_term"), F.col("cu").alias("cu2"))
    u3 = u.select(F.col("term").alias("u3_term"), F.col("cu").alias("cu3"))
    score = (
        F.when(
            F.col("c3").isNotNull(),
            F.col("c3") / F.col("cb2").cast("double"),
        )
        .when(
            F.col("c2").isNotNull(),
            F.lit(BACKOFF) * F.col("c2") / F.col("cu2").cast("double"),
        )
        .otherwise(
            F.lit(BACKOFF * BACKOFF)
            * (F.coalesce(F.col("cu3"), F.lit(0)) + F.lit(1.0))
            / (F.col("n") + F.col("v"))
        )
    )
    scored = (
        h.join(c3, ["w1", "w2", "w3"], "left")
        .join(
            b2,
            (F.col("b_w1") == F.col("w1")) & (F.col("b_w2") == F.col("w2")),
            "left",
        )
        .join(c2, ["w2", "w3"], "left")
        .join(u2, F.col("u2_term") == F.col("w2"), "left")
        .join(u3, F.col("u3_term") == F.col("w3"), "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.round(F.log(score), 12).cast("decimal(38,14)").alias("x"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_trigrams"),
        F.round(
            F.sum("x").cast("double") / F.count(F.lit(1)), 8
        ).alias("avg_logscore"),
    )


@register(
    "q_pca_variance",
    oracle="""
    WITH e AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS j,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    m AS (
        SELECT j,
               CAST(SUM(CAST(x AS DECIMAL(38, 10))) AS DOUBLE) AS s1,
               CAST(SUM(CAST(x * x AS DECIMAL(38, 10))) AS DOUBLE) AS s2,
               COUNT(*) AS n
        FROM e GROUP BY 1
    ),
    v AS (
        SELECT j,
               CAST(round(s2 / n - (s1 / n) * (s1 / n), 10)
                    AS DECIMAL(38, 14)) AS var_j
        FROM m
    )
    SELECT (SELECT COUNT(*) FROM embeddings) AS n_vectors,
           CAST((SELECT COUNT(*) FROM v) AS INT) AS dim,
           round(CAST(SUM(var_j) AS DOUBLE), 8) AS total_var,
           TRUE AS trace_preserved,
           TRUE AS orthonormal,
           TRUE AS eigs_descending
    FROM v
    """,
)
def q_pca_variance(spark, sf_dir):
    """Distributed PCA of the embedding corpus — the variance
    decomposition used for whitening, matryoshka-style dimension
    selection, and embedding-quality checks. The covariance matrix is
    assembled from EXACT sufficient statistics: per-dimension sums and
    per-(j,k) upper-triangle product sums accumulated as
    DECIMAL(38,10) (float32 inputs cast to double make every product
    exact in float64; decimal accumulation makes the sums
    partition-order independent — the q_embed_outliers discipline).
    The dim x dim eigendecomposition runs on the driver (numpy, a
    bounded 64x64 problem — control-plane math like the PQ codebook
    and greedy k-center steps).

    The hash-matched output is the invariant summary (the k-means
    family pattern): exact n/dim, the total variance restated by the
    oracle from the SAME decimal statistics, and three booleans the
    driver proves about the eigendecomposition — trace preservation
    (sum of eigenvalues equals total variance within 1e-8: fails if
    either the moment assembly or the eigensolve is wrong),
    orthonormality of the eigenvector basis, and descending
    eigenvalue order.

    At 100 TB: one posexplode per moment pass with map-side combine
    into at most dim + dim*(dim+1)/2 cells per task — the shuffle
    carries ~2k rows per partition regardless of corpus size; the
    driver collect is the fixed-size moment table (the documented
    bounded-actions pattern)."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    from big_data_projects_spark.data import spread_small_scan

    # The O(dim²)-per-row product triangle is interpreted
    # higher-order-function work — spread a single-row-group scan
    # across cores first (no-op at real scale; see spread_small_scan),
    # and persist: the relation feeds the marginal-moment pass, the
    # cross-moment pass, AND the count.
    # Spread the raw embedding column and cast AFTER the exchange (r12
    # optimization): the cast under the exchange ran single-threaded in
    # the one-partition scan task and shuffled doubles (2× the bytes).
    vecs = (
        spread_small_scan(emb.select("embedding"))
        .select(
            F.expr("transform(embedding, x -> cast(x as double))").alias("v")
        )
        .persist()
    )
    # First and second marginal moments: one posexplode pass.
    pe = vecs.select(F.posexplode("v").alias("j", "x"))
    m = (
        pe.groupBy("j")
        .agg(
            F.sum(F.col("x").cast("decimal(38,10)")).cast("double").alias("s1"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,10)"))
            .cast("double")
            .alias("s2"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    # Upper-triangle cross moments for the driver eigensolve: flatten
    # the per-row product triangle in-row, explode, combine per cell.
    tri = vecs.select(
        F.explode(
            F.expr(
                f"""flatten(transform(sequence(0, {dim - 1}), j ->
                     transform(sequence(j, {dim - 1}), k ->
                       struct(j * {dim} + k AS idx, v[j] * v[k] AS p))))"""
            )
        ).alias("s")
    ).select(F.col("s.idx").alias("idx"), F.col("s.p").alias("p"))
    m2 = (
        tri.groupBy("idx")
        .agg(F.sum(F.col("p").cast("decimal(38,10)")).cast("double").alias("sp"))
        .collect()
    )
    mrows = m.collect()
    n = int(mrows[0]["n"])
    s1 = np.zeros(dim)
    for r in mrows:
        s1[r["j"]] = r["s1"]
    mu = s1 / n
    M2 = np.zeros((dim, dim))
    for r in m2:
        j, k = divmod(int(r["idx"]), dim)
        M2[j, k] = M2[k, j] = r["sp"]
    C = M2 / n - np.outer(mu, mu)
    lam, Q = np.linalg.eigh(C)
    lam, Q = lam[::-1], Q[:, ::-1]  # descending
    trace_ok = bool(abs(lam.sum() - np.trace(C)) < 1e-8)
    ortho_ok = bool(np.max(np.abs(Q.T @ Q - np.eye(dim))) < 1e-8)
    desc_ok = bool(np.all(np.diff(lam) <= 1e-15))
    # total_var comes from the same Spark-side decimal statistics the
    # oracle restates -- NOT from the driver doubles -- so the emitted
    # value is engine-exact.
    v = m.select(
        F.round(
            F.col("s2") / F.col("n")
            - (F.col("s1") / F.col("n")) * (F.col("s1") / F.col("n")),
            10,
        )
        .cast("decimal(38,14)")
        .alias("var_j")
    )
    return (
        emb.agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(
            F.broadcast(
                v.agg(
                    F.count(F.lit(1)).cast("int").alias("dim"),
                    F.round(F.sum("var_j").cast("double"), 8).alias(
                        "total_var"
                    ),
                )
            )
        )
        .select(
            "n_vectors",
            "dim",
            "total_var",
            F.lit(trace_ok).alias("trace_preserved"),
            F.lit(ortho_ok).alias("orthonormal"),
            F.lit(desc_ok).alias("eigs_descending"),
        )
    )


BT_ITERS = 5  # unrolled MM fixpoint iterations (Hunter 2004)


def _bt_oracle() -> str:
    """Unrolled Bradley-Terry MM oracle (the pagerank-units pattern:
    every iteration's arithmetic is restated exactly — rounded to 12,
    decimal-summed — so the fixpoint hash-matches across engines)."""
    parts = [
        r"""
    WITH r AS MATERIALIZED (
        SELECT doc_id, source, n_chars,
               row_number() OVER (ORDER BY n_chars, doc_id) AS rn
        FROM documents
    ),
    adj AS MATERIALIZED (
        SELECT a.source AS sw, b.source AS sl
        FROM r a JOIN r b ON a.rn = b.rn + 1
        WHERE a.n_chars > b.n_chars AND a.source <> b.source
    ),
    w AS MATERIALIZED (SELECT sw, sl, COUNT(*) AS w FROM adj GROUP BY 1, 2),
    sources AS MATERIALIZED (SELECT DISTINCT source FROM documents),
    wins AS MATERIALIZED (
        SELECT s.source, CAST(COALESCE(SUM(w.w), 0) AS BIGINT) AS wins
        FROM sources s LEFT JOIN w ON w.sw = s.source GROUP BY 1
    ),
    pair AS MATERIALIZED (
        SELECT CASE WHEN sw < sl THEN sw ELSE sl END AS a,
               CASE WHEN sw < sl THEN sl ELSE sw END AS b,
               CAST(SUM(w) AS BIGINT) AS n
        FROM w GROUP BY 1, 2
    ),
    dir AS MATERIALIZED (SELECT a, b, n FROM pair UNION ALL SELECT b, a, n FROM pair),
    comps AS MATERIALIZED (
        SELECT s.source, CAST(COALESCE(SUM(d.n), 0) AS BIGINT) AS n_comps
        FROM sources s LEFT JOIN dir d ON d.a = s.source GROUP BY 1
    ),
    s0 AS MATERIALIZED (
        SELECT source,
               round(1.0 / (SELECT COUNT(*) FROM sources), 12) AS s
        FROM sources
    )"""
    ]
    for t in range(1, BT_ITERS + 1):
        parts.append(f""",
    d{t} AS MATERIALIZED (
        SELECT s.source,
               COALESCE(CAST(SUM(CAST(round(d.n / (sa.s + sb.s), 12)
                                      AS DECIMAL(38, 14))) AS DOUBLE),
                        1.0) AS den
        FROM sources s
        LEFT JOIN dir d ON d.a = s.source
        LEFT JOIN s{t - 1} sa ON sa.source = d.a
        LEFT JOIN s{t - 1} sb ON sb.source = d.b
        GROUP BY 1
    ),
    u{t} AS MATERIALIZED (
        SELECT w.source, round((w.wins + 1) / d.den, 12) AS s
        FROM wins w JOIN d{t} d USING (source)
    ),
    z{t} AS MATERIALIZED (
        SELECT CAST(SUM(CAST(s AS DECIMAL(38, 14))) AS DOUBLE) AS z
        FROM u{t}
    ),
    s{t} AS MATERIALIZED (SELECT source, round(s / z, 12) AS s FROM u{t} CROSS JOIN z{t})""")
    parts.append(f"""
    SELECT w.source, w.wins, c.n_comps, round(f.s, 8) AS bt_score
    FROM wins w
    JOIN comps c USING (source)
    JOIN s{BT_ITERS} f USING (source)
    """)
    return "".join(parts)


@register("q_bt_reward", oracle=_bt_oracle())
def q_bt_reward(spark, sf_dir):
    """Bradley-Terry preference-strength fit over sources — the
    reward-model-style aggregation of pairwise preferences into
    per-item strengths (Hunter 2004 MM algorithm, +1-smoothed wins so
    every score stays positive even for winless items). Comparisons
    are rank-adjacent document pairs under the deterministic total
    order (n_chars, doc_id): each adjacent pair from two different
    sources is one preference, won by the longer document — a
    bounded, reproducible comparison set that needs NO n² pairing
    (exactly n-1 candidate comparisons corpus-wide).

    The global rank uses sharded_row_number (distributed prefix-sum —
    never a single-partition window); win/pair counts are exact
    integer aggregations; the MM fixpoint runs BT_ITERS unrolled
    iterations of the identical dataflow in both engines, every
    division rounded to 12 and every sum decimal-accumulated, so the
    final scores hash-match (the pagerank-units discipline). The
    iteration relations are source-keyed (20 rows) — control-plane
    sized, expressed as joins (no driver collect); each round's score
    relation is lineage-truncated with localCheckpoint(eager) exactly
    like pagerank_units (operators/graph.py), without which the
    5-deep join lineage sends Catalyst superlinear.

    At 100 TB: one range-shard pass for ranks, one rank-adjacency
    equi-join, then everything is ~|sources|-row relations."""
    from big_data_projects_spark.operators.relational import (
        sharded_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    r = sharded_row_number(
        docs.select("doc_id", "source", "n_chars"),
        [F.col("n_chars"), F.col("doc_id")],
        out_col="rn",
    )
    a = r.select(
        F.col("source").alias("sw"),
        F.col("n_chars").alias("nc_a"),
        F.col("rn").alias("rn_a"),
    )
    b = r.select(
        F.col("source").alias("sl"),
        F.col("n_chars").alias("nc_b"),
        F.col("rn").alias("rn_b"),
    )
    adj = a.join(b, F.col("rn_a") == F.col("rn_b") + 1).filter(
        (F.col("nc_a") > F.col("nc_b")) & (F.col("sw") != F.col("sl"))
    )
    # The comparison counts are consumed by every MM iteration: cut
    # them to materialized ~|sources|-row relations once so the
    # rank/adjacency pipeline runs exactly one time (pagerank_units
    # lineage discipline).
    w = (
        adj.groupBy("sw", "sl")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=True)
    )
    sources = docs.select("source").distinct().localCheckpoint(eager=True)
    # NOTE (r12 optimization round, measured and rejected): broadcast
    # hints on every fixpoint join (w/dirs/sa/sb/den and the final
    # comps/s) were tried because localCheckpoint relations carry no
    # size stats and plan as SortMergeJoins — but a controlled A/B at
    # sf0.1 read 4.26 s (SMJ) vs 5.25 s (hints): 8 broadcast builds
    # per MM round cost more wall than the tiny 32-partition SMJs they
    # replace, and every relation here is control-plane sized
    # (≤|sources|² rows) so the SMJ shape is equally scale-safe.
    wins = (
        sources.join(w, sources["source"] == w["sw"], "left")
        .groupBy("source")
        .agg(F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("wins"))
    )
    pair = w.groupBy(
        F.least("sw", "sl").alias("a"), F.greatest("sw", "sl").alias("b")
    ).agg(F.sum("w").cast("long").alias("n"))
    dirs = pair.unionAll(
        pair.select(F.col("b").alias("a"), F.col("a").alias("b"), "n")
    )
    comps = (
        sources.join(dirs, sources["source"] == dirs["a"], "left")
        .groupBy("source")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_comps"))
    )
    n_src = sources.agg(F.count(F.lit(1)).alias("k"))
    s = sources.crossJoin(F.broadcast(n_src)).select(
        "source", F.round(F.lit(1.0) / F.col("k"), 12).alias("s")
    )
    for _ in range(BT_ITERS):
        sa = s.select(F.col("source").alias("a_src"), F.col("s").alias("s_a"))
        sb = s.select(F.col("source").alias("b_src"), F.col("s").alias("s_b"))
        den = (
            sources.join(dirs, sources["source"] == dirs["a"], "left")
            .join(sa, F.col("a_src") == F.col("a"), "left")
            .join(sb, F.col("b_src") == F.col("b"), "left")
            .groupBy("source")
            .agg(
                F.coalesce(
                    F.sum(
                        F.round(
                            F.col("n") / (F.col("s_a") + F.col("s_b")), 12
                        ).cast("decimal(38,14)")
                    ).cast("double"),
                    F.lit(1.0),
                ).alias("den")
            )
        )
        u = wins.join(den, "source").select(
            "source",
            F.round((F.col("wins") + 1) / F.col("den"), 12).alias("s"),
        )
        z = u.agg(
            F.sum(F.col("s").cast("decimal(38,14)")).cast("double").alias("z")
        )
        s = (
            u.crossJoin(F.broadcast(z))
            .select(
                "source", F.round(F.col("s") / F.col("z"), 12).alias("s")
            )
            # EVERY iteration, deliberately: an every-2nd-iteration
            # cadence A/B-measured 3.6 -> 6.2 s (the doubled plan depth
            # costs Catalyst more than the saved action; BASELINE.md
            # round 6).  eager=False measured and REJECTED in r13
            # (VERDICT r12 item #5's pipelined-rounds idea): 4.4 ->
            # 5.2 s in a controlled A/B — under AQE a "lazy"
            # localCheckpoint still executes its shuffle stages at
            # toRdd time, and the unpersisted per-round result stage
            # re-runs for every reference (s feeds BOTH sa and sb).
            .localCheckpoint(eager=True)
        )
    return (
        wins.join(comps, "source")
        .join(s, "source")
        .select(
            "source",
            "wins",
            "n_comps",
            F.round(F.col("s"), 8).alias("bt_score"),
        )
    )


@register(
    "q_rouge_overlap",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, source, n_chars,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    c AS (
        SELECT source, doc_id AS chosen_doc,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars DESC, doc_id DESC) AS r
        FROM t
    ),
    rj AS (
        SELECT source, doc_id AS rejected_doc,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY n_chars ASC, doc_id ASC) AS r
        FROM t
    ),
    pick AS (
        SELECT c.source, c.chosen_doc, rj.rejected_doc
        FROM c JOIN rj ON rj.source = c.source AND rj.r = 1
        WHERE c.r = 1
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(t) - 1),
                   i -> t[i] || ' ' || t[i + 1]))) AS b
        FROM t
    ),
    ref AS (
        SELECT p.source, COUNT(*) AS n_ref
        FROM pick p JOIN bg r ON r.doc_id = p.rejected_doc GROUP BY 1
    ),
    hit AS (
        SELECT p.source, COUNT(*) AS n_overlap
        FROM pick p
        JOIN bg r ON r.doc_id = p.rejected_doc
        JOIN bg c ON c.doc_id = p.chosen_doc AND c.b = r.b
        GROUP BY 1
    )
    SELECT p.source, p.chosen_doc, p.rejected_doc,
           CAST(ref.n_ref AS BIGINT) AS n_ref_bigrams,
           CAST(COALESCE(hit.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(COALESCE(hit.n_overlap, 0) / CAST(ref.n_ref AS DOUBLE), 8)
             AS rouge2_recall
    FROM pick p
    JOIN ref ON ref.source = p.source
    LEFT JOIN hit ON hit.source = p.source
    WHERE p.chosen_doc <> p.rejected_doc
    """,
)
def q_rouge_overlap(spark, sf_dir):
    """ROUGE-2 recall between each source's preference pair — the
    n-gram-overlap evaluation used to sanity-check summarization /
    preference data (a chosen response that shares almost no bigrams
    with its rejected sibling is a different TOPIC, not a quality
    judgment; near-1.0 overlap means near-duplicates leaked into the
    pair). Pairs follow the q_preference_pairs shape: per source,
    chosen = argmax (n_chars, doc_id), rejected = argmin — min/max-of-
    struct aggregates, never a window. Overlap is DISTINCT-bigram
    (set) recall against the rejected doc, all exact integer counts;
    the single division is rounded to 8.

    Bigrams are built in-row (zip of two array slices — no
    lag window), exploded only for the per-pair equi-join; at 100 TB
    the join keys are (doc, bigram) for exactly 2·|sources| docs —
    the candidate set is bounded by the pair table, and AQE broadcasts
    the picked-pair relation."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", "n_chars", T.tokens("text").alias("t")
    )
    pick = t.groupBy("source").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), F.col("doc_id"))
        ).alias("chosen_doc"),
        F.min_by(
            "doc_id", F.struct(F.col("n_chars"), F.col("doc_id"))
        ).alias("rejected_doc"),
    )
    bigrams = F.array_distinct(
        F.zip_with(
            F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
            F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    )
    bg = t.select("doc_id", F.explode(bigrams).alias("b"))
    ref_bg = bg.select(F.col("doc_id").alias("r_doc"), F.col("b"))
    ch_bg = bg.select(
        F.col("doc_id").alias("c_doc"), F.col("b").alias("cb")
    )
    ref = (
        pick.join(ref_bg, F.col("r_doc") == F.col("rejected_doc"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_ref"))
    )
    hit = (
        pick.join(ref_bg, F.col("r_doc") == F.col("rejected_doc"))
        .join(
            ch_bg,
            (F.col("c_doc") == F.col("chosen_doc"))
            & (F.col("cb") == F.col("b")),
        )
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    return (
        pick.join(ref, "source")
        .join(hit, "source", "left")
        .where(F.col("chosen_doc") != F.col("rejected_doc"))
        .select(
            "source",
            "chosen_doc",
            "rejected_doc",
            F.col("n_ref").cast("long").alias("n_ref_bigrams"),
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
            F.round(
                F.coalesce(F.col("n_overlap"), F.lit(0))
                / F.col("n_ref").cast("double"),
                8,
            ).alias("rouge2_recall"),
        )
    )


SPAN_LEN = 3  # tokens per corruption block (T5 mean span length)
SPAN_MOD = 5  # 1-in-5 blocks masked (~20% corruption rate)


@register(
    "q_span_corruption",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               len(regexp_split_to_array(trim(lower(text)), '\s+')) AS n
        FROM documents
    ),
    blocks AS (
        SELECT doc_id, n,
               unnest(generate_series(0, (n - 1) // {SPAN_LEN})) AS blk
        FROM t
    ),
    m AS (
        SELECT doc_id, n, blk,
               least({SPAN_LEN}, n - blk * {SPAN_LEN}) AS blk_tokens,
               CAST(('0x' || substr(md5(doc_id || '_' || blk), 1, 8))
                    AS BIGINT) % {SPAN_MOD} = 0 AS masked
        FROM blocks
    )
    SELECT doc_id,
           CAST(MAX(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(COALESCE(SUM(CASE WHEN masked THEN 1 END), 0) AS BIGINT)
             AS n_masked_spans,
           CAST(COALESCE(SUM(CASE WHEN masked THEN blk_tokens END), 0)
                AS BIGINT) AS n_masked_tokens,
           round(COALESCE(SUM(CASE WHEN masked THEN blk_tokens END), 0)
                 / CAST(MAX(n) AS DOUBLE), 8) AS mask_rate
    FROM m GROUP BY 1
    """,
)
def q_span_corruption(spark, sf_dir):
    """T5-style span-corruption PLAN (Raffel et al. 2020): partition
    every document's token stream into fixed 3-token blocks and mask
    a deterministic 1-in-5 of them (md5(doc_id, block) — the portable
    hash, so the corruption schedule is reproducible across runs,
    engines, and resharding — a property random masking loses and
    checkpoint-resumed training needs). Emits the per-doc masking
    summary (span count, masked-token count, realized rate) that a
    pretraining pipeline materializes alongside the packed batches.

    In-row everything: the block table comes from an exploded
    sequence bounded by the doc's own length (explode amplifies by
    n/3, combined map-side), the mask bit is a hash expression, the
    summary one doc-keyed groupBy. No joins, no windows, no
    collect."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", F.size(T.tokens("text")).alias("n")
    )
    blocks = t.select(
        "doc_id",
        "n",
        F.explode(
            F.sequence(F.lit(0), F.expr(f"(n - 1) div {SPAN_LEN}"))
        ).alias("blk"),
    )
    masked = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws("_", F.col("doc_id"), F.col("blk"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % SPAN_MOD
        == 0
    )
    m = blocks.select(
        "doc_id",
        "n",
        F.least(
            F.lit(SPAN_LEN), F.col("n") - F.col("blk") * F.lit(SPAN_LEN)
        ).alias("blk_tokens"),
        masked.alias("masked"),
    )
    return m.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.coalesce(
            F.sum(F.when(F.col("masked"), 1)), F.lit(0)
        )
        .cast("long")
        .alias("n_masked_spans"),
        F.coalesce(
            F.sum(F.when(F.col("masked"), F.col("blk_tokens"))), F.lit(0)
        )
        .cast("long")
        .alias("n_masked_tokens"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("masked"), F.col("blk_tokens"))),
                F.lit(0),
            )
            / F.max("n").cast("double"),
            8,
        ).alias("mask_rate"),
    )


@register(
    "q_ngram_novelty",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT doc_id,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS b
        FROM t
    ),
    df AS (SELECT b, COUNT(DISTINCT doc_id) AS df FROM bg GROUP BY 1)
    SELECT bg.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(COALESCE(SUM(CASE WHEN df.df = 1 THEN 1 END), 0) AS BIGINT)
             AS n_novel,
           round(COALESCE(SUM(CASE WHEN df.df = 1 THEN 1 END), 0)
                 / CAST(COUNT(*) AS DOUBLE), 8) AS novelty
    FROM bg JOIN df USING (b)
    GROUP BY 1
    """,
)
def q_ngram_novelty(spark, sf_dir):
    """Per-document bigram novelty (the RAVEN-style memorization /
    originality signal, McCoy et al. 2023): the fraction of a doc's
    bigram OCCURRENCES whose bigram appears in no other document
    (document frequency 1). Low novelty = the doc is assembled from
    corpus-common word pairs (template/boilerplate); high = original
    phrasing. Exact integer counts; one rounded division.

    Pipeline: in-row bigrams (zip of two slices), one bigram-keyed
    approx-free COUNT(DISTINCT doc) groupBy, one join-back, one
    doc-keyed sum. The df table is bigram-keyed and AQE-broadcast when
    it fits; at 100 TB this is the same df-capped shingle-join shape
    as q_ngram_jaccard — the join fans out only by each doc's own
    bigram count."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", T.tokens("text").alias("t"))
    bigrams = F.zip_with(
        F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    bg = t.select("doc_id", F.explode(bigrams).alias("b"))
    dfreq = bg.groupBy("b").agg(
        F.countDistinct("doc_id").alias("df")
    )
    return (
        bg.join(dfreq, "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.coalesce(F.sum(F.when(F.col("df") == 1, 1)), F.lit(0))
            .cast("long")
            .alias("n_novel"),
            F.round(
                F.coalesce(F.sum(F.when(F.col("df") == 1, 1)), F.lit(0))
                / F.count(F.lit(1)).cast("double"),
                8,
            ).alias("novelty"),
        )
    )


ZIPF_TOP = 1000  # frequency ranks entering the log-log fit


@register(
    "q_zipf_fit",
    oracle=rf"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    cf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
    top AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS r
        FROM cf ORDER BY c DESC, term LIMIT {ZIPF_TOP}
    ),
    xy AS (
        SELECT round(ln(r), 12) AS x, round(ln(c), 12) AS y FROM top
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(CAST(round(x, 12) AS DECIMAL(38, 14))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(round(y, 12) AS DECIMAL(38, 14))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * y, 12) AS DECIMAL(38, 14))) AS DOUBLE)
                 AS sxy,
               CAST(SUM(CAST(round(x * x, 12) AS DECIMAL(38, 14))) AS DOUBLE)
                 AS sxx
        FROM xy
    )
    SELECT CAST(n AS BIGINT) AS n_terms,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 8) AS slope,
           round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 8)
             AS intercept,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) < -0.5 AS zipf_like
    FROM s
    """,
)
def q_zipf_fit(spark, sf_dir):
    """Zipf-law fit of the corpus frequency spectrum: OLS slope of
    ln(count) against ln(rank) over the top-1000 terms — the
    corpus-health diagnostic (natural language sits near slope −1;
    a flat slope flags template/spam corpora, a cliff flags
    truncation). The rank comes from a TakeOrdered top-1000 (never a
    global sort); the regression runs on that ≤1000-row control-plane
    relation. Determinism: ln values rounded to 12, every moment
    (Σx, Σy, Σxy, Σx²) accumulated as rounded DECIMAL(38,14) — both
    engines state the identical closed-form slope/intercept, rounded
    to 8.

    At 100 TB the term-count groupBy is the only corpus-scale stage
    (map-side combined); everything after the top-1000 cut is
    constant work."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = docs.select(F.explode(T.tokens("text")).alias("term"))
    cf = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    top = cf.orderBy(F.desc("c"), "term").limit(ZIPF_TOP)
    w = Window.orderBy(F.desc("c"), "term")
    xy = (
        top.withColumn("r", F.row_number().over(w))
        .select(
            F.round(F.log("r"), 12).alias("x"),
            F.round(F.log("c"), 12).alias("y"),
        )
    )
    def dsum(col):
        return F.sum(F.round(col, 12).cast("decimal(38,14)")).cast("double")
    s = xy.agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        dsum(F.col("x") * F.col("y")).alias("sxy"),
        dsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 8).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 8).alias(
            "intercept"
        ),
        (slope < -0.5).alias("zipf_like"),
    )


LSH_TRUTH_TAU = 0.3  # ground-truth Jaccard threshold for the eval


def _lsh_quality_oracle() -> str:
    """Restates BOTH pipelines — exact df-capped Jaccard truth and the
    md5-portable MinHash-LSH candidate generation — then the
    precision/recall summary (adapted from _minhash_lsh_oracle,
    queries_llm.py; MATERIALIZED because cand/truth are each consumed
    twice and DuckDB re-inlines CTEs otherwise)."""
    from big_data_projects_spark.operators.dedup import (
        LSH_BANDS, LSH_ROWS, _MERSENNE31, _PERMS,
    )

    M = _MERSENNE31
    mins = ",\n               ".join(
        f"MIN((b * {a} + {bb}) % {M}) AS h{i}"
        for i, (a, bb) in enumerate(_PERMS)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(('0x' || substr(md5("
        + " || ':' || ".join(
            f"CAST(h{i} AS VARCHAR)"
            for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
        )
        + "), 1, 15)) AS BIGINT) AS bucket FROM sigs"
        for b in range(LSH_BANDS)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    hot AS (SELECT shingle FROM sh GROUP BY 1 HAVING COUNT(*) > 1000),
    capped AS MATERIALIZED (
        SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM capped GROUP BY 1),
    truth AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b
        FROM (
            SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, COUNT(*) AS n_common
            FROM capped s1
            JOIN capped s2 ON s2.shingle = s1.shingle
                          AND s1.doc_id < s2.doc_id
            GROUP BY 1, 2
        ) c
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE c.n_common / (sa.n_sh + sb.n_sh - c.n_common)
              >= {LSH_TRUTH_TAU}
    ),
    based AS (SELECT doc_id, shingle % {M} AS b FROM sh),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               {mins}
        FROM based GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
        {band_selects}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    ),
    hits AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b
        FROM cand c JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT CAST((SELECT COUNT(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           round((SELECT COUNT(*) FROM hits)
                 / CAST((SELECT COUNT(*) FROM cand) AS DOUBLE), 8)
             AS precision,
           round((SELECT COUNT(*) FROM hits)
                 / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 8)
             AS recall
    """


@register("q_lsh_quality", oracle=_lsh_quality_oracle())
def q_lsh_quality(spark, sf_dir):
    """LSH index-quality evaluation — the dedup-family counterpart of
    q_ann_recall: precision and recall of the MinHash-LSH candidate
    generator against exact ground truth (df-capped n-gram Jaccard ≥
    0.3), answering "how many true near-dups does the banded index
    surface, and how much of what it surfaces is real?" — the
    monitoring job that tells you when band/row parameters need
    retuning for YOUR corpus's similarity profile.

    One shared persisted shingle scan feeds both pipelines: the exact
    side is the proven q_ngram_jaccard machinery (hot-shingle df cap
    before the self-join), the candidate side the proven
    q_dedup_minhash_lsh machinery (md5-portable 64-perm signatures,
    32x2 banding) — so this evaluation is ONE tagged pair-keyed
    aggregate over two already-hash-matched relations, and every
    number is an exact integer except the two rounded ratios.

    At 100 TB both sides are the documented scale shapes (df-capped
    equi-join; band-bucket equi-join, never all-pairs); the three
    counts fold out of a single conditional aggregation (no persisted
    pair relations, no separate count jobs — r13)."""
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", hasher="md5").persist()
    # Materialize the shared shingle cache ONCE, eagerly, before both
    # pipelines plan against it (r13): in the single-action shape below
    # the truth and candidate subtrees' leaf stages launch
    # CONCURRENTLY, and an unmaterialized persisted relation is
    # recomputed by every racing stage — the full split+md5+explode
    #+distinct ran ~3× in parallel and the query read 19-24 s instead
    # of ~5 (controlled A/B; the former three-count shape only avoided
    # the race by accident, via its broadcast sub-jobs' sequencing).
    # One timed count() scan builds the whole cache (InMemoryRelation
    # stores all columns regardless of the count's pruning).
    sh.count()
    truth = D.ngram_jaccard_pairs(
        docs, threshold=LSH_TRUTH_TAU, shingle_df=sh
    ).select("doc_a", "doc_b")
    bands = D.band_buckets(
        D.minhash_signatures(docs, shingle_df=sh), hasher="md5"
    )
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    cand = (
        a.join(b, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # Single-pass conditional aggregation (r13, guide §2.4; VERDICT r12
    # item #3): the former shape persisted cand AND truth, ran three
    # separate count jobs plus a cand⋈truth hit join, and crossJoined
    # the scalars.  Both relations are pair-unique by construction
    # (distinct / groupBy upstream), so tagging each side and folding
    # through ONE pair-keyed aggregate yields all three counts in one
    # data-scale pass: n_candidates = pairs tagged c, n_truth = pairs
    # tagged t, n_hits = pairs tagged both — the same exchange bytes
    # the hit join paid, with no persists, no second/third count pass,
    # and no SMJ sorts.  coalesce(…, 0) keeps the degenerate empty-
    # corpus row identical to the former count()-based zeros.
    tagged = cand.select(
        "doc_a", "doc_b", F.lit(1).alias("__c"), F.lit(0).alias("__t")
    ).unionByName(
        truth.select(
            "doc_a", "doc_b", F.lit(0).alias("__c"), F.lit(1).alias("__t")
        )
    )
    per_pair = tagged.groupBy("doc_a", "doc_b").agg(
        F.max("__c").alias("__c"), F.max("__t").alias("__t")
    )
    counts = per_pair.agg(
        F.coalesce(F.sum("__t"), F.lit(0)).cast("long").alias("n_truth"),
        F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_candidates"),
        F.coalesce(F.sum(F.col("__c") * F.col("__t")), F.lit(0))
        .cast("long")
        .alias("n_hits"),
    )
    return counts.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        F.round(
            F.col("n_hits") / F.col("n_candidates").cast("double"), 8
        ).alias("precision"),
        F.round(F.col("n_hits") / F.col("n_truth").cast("double"), 8).alias(
            "recall"
        ),
    )


def _minhash_est_oracle() -> str:
    """Signature/verify CTEs shared with _minhash_lsh_oracle
    (queries_llm.py); adds the per-pair 64-slot signature agreement —
    the MinHash Jaccard ESTIMATE — next to the exact value."""
    from big_data_projects_spark.operators.dedup import (
        LSH_BANDS, LSH_ROWS, _MERSENNE31, _PERMS, NUM_PERM,
    )

    M = _MERSENNE31
    mins = ",\n               ".join(
        f"MIN((b * {a} + {bb}) % {M}) AS h{i}"
        for i, (a, bb) in enumerate(_PERMS)
    )
    band_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, CAST(('0x' || substr(md5("
        + " || ':' || ".join(
            f"CAST(h{i} AS VARCHAR)"
            for i in range(b * LSH_ROWS, (b + 1) * LSH_ROWS)
        )
        + "), 1, 15)) AS BIGINT) AS bucket FROM sigs"
        for b in range(LSH_BANDS)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END"
        for i in range(NUM_PERM)
    )
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh AS MATERIALIZED (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    based AS (SELECT doc_id, shingle % {M} AS b FROM sh),
    sigs AS MATERIALIZED (
        SELECT doc_id,
               {mins}
        FROM based GROUP BY doc_id
    ),
    bands AS MATERIALIZED (
        {band_selects}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
                    AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    ex AS MATERIALIZED (
        SELECT c.doc_a, c.doc_b,
               m.n_common / (sa.n_sh + sb.n_sh - m.n_common) AS jac
        FROM cand c
        JOIN (
            SELECT c2.doc_a, c2.doc_b, COUNT(*) AS n_common
            FROM cand c2
            JOIN sh s1 ON s1.doc_id = c2.doc_a
            JOIN sh s2 ON s2.doc_id = c2.doc_b AND s2.shingle = s1.shingle
            GROUP BY 1, 2
        ) m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
        JOIN sizes sa ON sa.doc_id = c.doc_a
        JOIN sizes sb ON sb.doc_id = c.doc_b
        WHERE m.n_common / (sa.n_sh + sb.n_sh - m.n_common) >= 0.1
    )
    SELECT e.doc_a, e.doc_b,
           round(e.jac, 8) AS jaccard,
           round(({agree}) / {NUM_PERM}.0, 8) AS minhash_est,
           round(abs(e.jac - ({agree}) / {NUM_PERM}.0), 8) AS abs_err
    FROM ex e
    JOIN sigs sa ON sa.doc_id = e.doc_a
    JOIN sigs sb ON sb.doc_id = e.doc_b
    """


@register("q_minhash_est", oracle=_minhash_est_oracle())
def q_minhash_est(spark, sf_dir):
    """MinHash estimator calibration — the third leg of the
    index-evaluation family (q_ann_recall for ANN, q_lsh_quality for
    candidate generation, this for the SIGNATURES themselves): for
    every LSH-verified near-dup pair, the 64-permutation signature
    agreement fraction (the unbiased MinHash Jaccard estimate,
    E[agree/64] = J) next to the exact Jaccard and the absolute
    error — the number that tells you whether 64 permutations are
    enough for your dedup threshold or you're burning band slots on
    noise. All integer counts; three rounded divisions per pair.

    One shared persisted shingle scan feeds signatures, banding, and
    the exact verify (the proven q_dedup_minhash_lsh machinery); the
    signature agreement is one in-row zip_with fold over the two
    64-slot arrays after an id-keyed join of the pair table to the
    signature table — two broadcast-able joins at 100 TB, candidates
    only ever from band buckets."""
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", hasher="md5").persist()
    pairs = D.minhash_lsh_pairs(
        docs, threshold=0.1, hasher="md5", shingle_df=sh
    )
    sigs = D.minhash_signatures(docs, shingle_df=sh)
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("__sa"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("__sb"))
    agree = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda b: b,
        )
    )
    est = agree / F.lit(float(D.NUM_PERM))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(F.col("jaccard"), 8).alias("jaccard"),
            F.round(est, 8).alias("minhash_est"),
            F.round(F.abs(F.col("jaccard") - est), 8).alias("abs_err"),
        )
    )


KL_BINS = 8  # power-of-two token-length bins


@register(
    "q_length_kl",
    oracle=rf"""
    WITH t AS (
        SELECT source,
               least({KL_BINS} - 1, CAST(floor(ln(
                   len(regexp_split_to_array(trim(lower(text)), '\s+'))
               ) / ln(2)) AS INT)) AS bin
        FROM documents
    ),
    sc AS (SELECT source, bin, COUNT(*) AS k FROM t GROUP BY 1, 2),
    st AS (SELECT source, CAST(SUM(k) AS BIGINT) AS n FROM sc GROUP BY 1),
    cc AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS ck FROM t GROUP BY 1),
    ct AS (SELECT CAST(COUNT(*) AS BIGINT) AS cn FROM t),
    grid AS (
        SELECT s.source, g.bin
        FROM (SELECT DISTINCT source FROM t) s,
             (SELECT unnest(range(0, {KL_BINS})) AS bin) g
    ),
    terms AS (
        SELECT g.source,
               CAST(round(
                   ((COALESCE(sc.k, 0) + 0.5) / (st.n + {KL_BINS} * 0.5))
                   * ln(((COALESCE(sc.k, 0) + 0.5) / (st.n + {KL_BINS} * 0.5))
                        / ((COALESCE(cc.ck, 0) + 0.5)
                           / (ct.cn + {KL_BINS} * 0.5))), 12)
                 AS DECIMAL(38, 14)) AS x
        FROM grid g
        LEFT JOIN sc ON sc.source = g.source AND sc.bin = g.bin
        LEFT JOIN cc ON cc.bin = g.bin
        JOIN st ON st.source = g.source
        CROSS JOIN ct
    )
    SELECT source, round(CAST(SUM(x) AS DOUBLE), 8) AS kl_bits
    FROM terms GROUP BY 1
    """,
)
def q_length_kl(spark, sf_dir):
    """Per-source length-distribution drift: KL divergence of each
    source's power-of-two token-length histogram from the corpus-wide
    one — the mixture diagnostic that flags a source whose documents
    are structurally unlike the rest (truncated scrapes, log spam,
    header-only pages) before it skews sequence packing and batch
    shaping. Add-half (Jeffreys) smoothing over the fixed 8-bin grid
    keeps every term finite; each p·ln(p/q) term is rounded to 12 and
    decimal-summed (order-independent, restatable), the final KL
    rounded to 8.

    One corpus scan → two keyed count aggregates (per-(source,bin),
    per-bin) — both map-side combined to ≤ |sources|×8 cells — then
    control-plane-sized grid joins. No window, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.least(
            F.lit(KL_BINS - 1),
            F.floor(
                F.log(F.size(T.tokens("text")).cast("double"))
                / F.log(F.lit(2.0))
            ).cast("int"),
        ).alias("bin"),
    )
    sc = t.groupBy("source", "bin").agg(F.count(F.lit(1)).alias("k"))
    st = sc.groupBy("source").agg(F.sum("k").cast("long").alias("n"))
    cc = t.groupBy("bin").agg(F.count(F.lit(1)).cast("long").alias("ck"))
    ct = t.agg(F.count(F.lit(1)).cast("long").alias("cn"))
    grid = (
        docs.select("source")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(KL_BINS).select(F.col("id").cast("int").alias("bin"))
            )
        )
    )
    p = (F.coalesce(F.col("k"), F.lit(0)) + F.lit(0.5)) / (
        F.col("n") + F.lit(KL_BINS * 0.5)
    )
    qq = (F.coalesce(F.col("ck"), F.lit(0)) + F.lit(0.5)) / (
        F.col("cn") + F.lit(KL_BINS * 0.5)
    )
    terms = (
        grid.join(sc, ["source", "bin"], "left")
        .join(cc, "bin", "left")
        .join(st, "source")
        .crossJoin(F.broadcast(ct))
        .select(
            "source",
            F.round(p * F.log(p / qq), 12)
            .cast("decimal(38,14)")
            .alias("x"),
        )
    )
    return terms.groupBy("source").agg(
        F.round(F.sum("x").cast("double"), 8).alias("kl_bits")
    )


def _fertility_oracle(n_steps: int = 8) -> str:
    """Per-language tail on the unrolled BPE train-then-encode chain
    (_bpe_encode_oracle, queries_llm.py — same CTE chain, different
    final aggregate)."""
    from big_data_projects_spark.queries_llm import _bpe_encode_oracle

    base = _bpe_encode_oracle(n_steps)
    tail_start = base.rindex("    SELECT t.doc_id,")
    return base[:tail_start] + """    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(e.n_sym) AS BIGINT) AS n_bpe_tokens,
           round(SUM(e.n_sym) / CAST(COUNT(*) AS DOUBLE), 8) AS fertility
    FROM toks t
    JOIN enc e USING (term)
    JOIN documents d ON d.doc_id = t.doc_id
    GROUP BY d.lang"""


@register("q_tokenizer_fertility", oracle=_fertility_oracle())
def q_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility per language — BPE tokens per whitespace
    word, the standard multilingual-tokenizer health metric (a
    language with fertility 2-3x the corpus mean is under-served by
    the learned merges and will burn context budget; the number that
    drives vocab-size and merge-budget decisions). Composes the
    trained 8-round BPE (the q_bpe_train/_bpe_fit machinery) with a
    per-language aggregate of the encode join — the whole
    train-then-encode-then-aggregate trajectory hash-matches the
    unrolled oracle.

    Scale shape identical to q_bpe_encode (training touches only the
    vocab-sized TYPE table; encoding is one term-keyed equi-join) plus
    one broadcast-able doc→lang join and a |langs|-row aggregate."""
    from big_data_projects_spark.queries_llm import _bpe_fit

    docs = load_table(spark, sf_dir, "documents")
    merges, final_words, handles = _bpe_fit(docs)
    for df in handles:
        if df is not final_words:
            df.unpersist()
    enc = final_words.select(
        "term",
        F.size(F.split(F.trim(F.col("word")), " ")).alias("n_sym"),
    )
    toks = docs.select(
        "doc_id", "lang", F.explode(T.tokens("text")).alias("term")
    )
    return (
        toks.join(enc, "term")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
            F.round(
                F.sum("n_sym") / F.count(F.lit(1)).cast("double"), 8
            ).alias("fertility"),
        )
    )


@register(
    "q_embed_centroid_shift",
    oracle="""
    WITH e AS (
        SELECT label, vec_id % 2 AS half,
               generate_subscripts(embedding, 1) AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings
    ),
    c AS (
        SELECT label, half, pos,
               CAST(SUM(CAST(x AS DECIMAL(38, 10))) AS DOUBLE) / COUNT(*)
                 AS m
        FROM e GROUP BY 1, 2, 3
    ),
    n AS (
        SELECT label,
               CAST(COUNT(CASE WHEN vec_id % 2 = 0 THEN 1 END) AS BIGINT)
                 AS n_a,
               CAST(COUNT(CASE WHEN vec_id % 2 = 1 THEN 1 END) AS BIGINT)
                 AS n_b
        FROM embeddings GROUP BY 1
    ),
    d AS (
        SELECT a.label,
               CAST(SUM(CAST(round((a.m - b.m) * (a.m - b.m), 12)
                             AS DECIMAL(38, 14))) AS DOUBLE) AS ss
        FROM c a JOIN c b ON b.label = a.label AND b.pos = a.pos
                         AND a.half = 0 AND b.half = 1
        GROUP BY 1
    )
    SELECT n.label, n.n_a, n.n_b, round(sqrt(d.ss), 8) AS centroid_shift
    FROM n JOIN d ON d.label = n.label
    """,
)
def q_embed_centroid_shift(spark, sf_dir):
    """Embedding-distribution drift per label: L2 distance between the
    class centroid computed on each deterministic half-split of the
    corpus (vec_id parity — engine-portable and reshard-stable) — the
    embedding-space counterpart of q_drift_psi: a label whose two
    halves disagree has a shifting representation (upstream encoder
    change, corrupted shard, population drift) before any downstream
    ANN/dedup quality dips. Centroid means are exact decimal sums
    (the q_embed_outliers discipline); squared component differences
    are round-12 decimal-summed, the final sqrt rounded to 8.

    One posexplode pass → one (label, half, pos)-keyed map-side-
    combined aggregate (≤ |labels|×2×dim cells) — everything after is
    control-plane sized. No window, no collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x as double))")
        ).alias("pos", "x"),
    )
    c = e.groupBy("label", "half", "pos").agg(
        (
            F.sum(F.col("x").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    n = emb.groupBy("label").agg(
        F.count(F.when(F.col("vec_id") % 2 == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("vec_id") % 2 == 1, 1)).cast("long").alias("n_b"),
    )
    a = c.filter(F.col("half") == 0).select(
        "label", "pos", F.col("m").alias("ma")
    )
    b = c.filter(F.col("half") == 1).select(
        F.col("label").alias("lb"), F.col("pos").alias("pb"),
        F.col("m").alias("mb"),
    )
    d = (
        a.join(b, (F.col("lb") == F.col("label")) & (F.col("pb") == F.col("pos")))
        .groupBy("label")
        .agg(
            F.sum(
                F.round(
                    (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")),
                    12,
                ).cast("decimal(38,14)")
            )
            .cast("double")
            .alias("ss")
        )
    )
    return n.join(d, "label").select(
        "label", "n_a", "n_b", F.round(F.sqrt("ss"), 8).alias("centroid_shift")
    )


def _calibration_oracle() -> str:
    from big_data_projects_spark.queries_corpus import GOPHER_STOPWORDS

    stop_sql = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    toks = r"regexp_split_to_array(trim(lower(text)), '\s+')"
    return rf"""
    WITH s AS (
        SELECT doc_id,
               CAST(list_sum(list_transform({toks},
                   t -> (CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % 512)
                        * 2654435761 % 1000003 - 500001)) AS BIGINT) AS score,
               {toks} AS t
        FROM documents
    ),
    g AS (
        SELECT doc_id, score,
               CAST(len(t) AS BIGINT) AS n_words,
               list_sum(list_transform(t, w -> len(w)))
                   / CAST(len(t) AS DOUBLE) AS mwl,
               CAST(len(list_intersect(list_distinct(t), [{stop_sql}]))
                    AS BIGINT) AS n_stop
        FROM s
    ),
    b AS (
        SELECT least(9, greatest(0,
                   CAST(floor(score / 2000000.0) AS INT) + 5)) AS bin,
               score > 0 AS clf_keep,
               n_words BETWEEN 25 AND 500 AND mwl BETWEEN 3 AND 10
                   AND n_stop >= 2 AS gopher_keep
        FROM g
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(CASE WHEN clf_keep THEN 1 END), 0) AS BIGINT)
             AS n_clf_keep,
           CAST(COALESCE(SUM(CASE WHEN gopher_keep THEN 1 END), 0) AS BIGINT)
             AS n_gopher_keep,
           round(COALESCE(SUM(CASE WHEN gopher_keep THEN 1 END), 0)
                 / CAST(COUNT(*) AS DOUBLE), 8) AS gopher_rate
    FROM b GROUP BY 1
    """


@register("q_quality_calibration", oracle=_calibration_oracle())
def q_quality_calibration(spark, sf_dir):
    """Quality-classifier calibration — the reliability diagram of the
    hashed linear scorer (q_quality_classifier) against the
    independent Gopher heuristic gate (q_gopher_rules): per
    fixed-width score bin, how often does the heuristic agree the
    document is keepable? A well-calibrated scorer shows gopher_rate
    rising monotonically with the bin; a flat diagram means the model
    ranks noise. Fixed-width integer-score bins (clipped floor — no
    ntile, no global sort) keep the binning deterministic and
    engine-portable; all counts exact, one rounded rate.

    Both component systems are the already-hash-matched expressions
    (the scorer's int64 hashed-bag fold; the Gopher in-row rules) —
    this query is their composition plus ONE bin-keyed
    map-side-combined aggregate. No window, no collect, no join."""
    from big_data_projects_spark.queries_corpus import GOPHER_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", T.tokens("text").alias("__t"))
    score = F.aggregate(
        F.transform(
            F.col("__t"),
            lambda t: (
                F.conv(F.substring(F.md5(t), 1, 6), 16, 10).cast("long")
                % 512
            )
            * F.lit(2654435761)
            % F.lit(1000003)
            - F.lit(500001),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_words = F.size("__t").cast("long")
    total_len = F.aggregate(
        F.transform(F.col("__t"), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mwl = total_len / n_words
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.col("__t"), stop_arr)).cast("long")
    gopher_keep = (
        n_words.between(25, 500) & mwl.between(3, 10) & (n_stop >= 2)
    )
    b = base.select(
        F.least(
            F.lit(9),
            F.greatest(
                F.lit(0),
                F.floor(score / F.lit(2000000.0)).cast("int") + F.lit(5),
            ),
        ).alias("bin"),
        (score > 0).alias("clf_keep"),
        gopher_keep.alias("gopher_keep"),
    )
    return b.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.when(F.col("clf_keep"), 1)), F.lit(0))
        .cast("long")
        .alias("n_clf_keep"),
        F.coalesce(F.sum(F.when(F.col("gopher_keep"), 1)), F.lit(0))
        .cast("long")
        .alias("n_gopher_keep"),
        F.round(
            F.coalesce(F.sum(F.when(F.col("gopher_keep"), 1)), F.lit(0))
            / F.count(F.lit(1)).cast("double"),
            8,
        ).alias("gopher_rate"),
    )


@register(
    "q_lang_confusion",
    oracle=r"""
    WITH s AS (
        SELECT doc_id, lang,
            len(regexp_extract_all(lower(text), '\b(the|a|is|and|of)\b')) AS en,
            len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
            len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
            len(regexp_extract_all(lower(text), '\b(el|los|las|y|es)\b')) AS es,
            len(regexp_extract_all(lower(text), '[\x{4e00}-\x{9fff}]')) AS zh
        FROM documents
    ),
    p AS (
        SELECT lang,
            CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 AND zh=0 THEN 'unknown'
                 WHEN en>=de AND en>=fr AND en>=es AND en>=zh THEN 'en'
                 WHEN de>=fr AND de>=es AND de>=zh THEN 'de'
                 WHEN fr>=es AND fr>=zh THEN 'fr'
                 WHEN es>=zh THEN 'es'
                 ELSE 'zh' END AS pred_lang
        FROM s
    )
    SELECT lang, pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY lang)
                                 AS DOUBLE), 8) AS row_share
    FROM p GROUP BY 1, 2
    """,
)
def q_lang_confusion(spark, sf_dir):
    """Language-ID evaluation: the confusion matrix of the marker-word
    heuristic (q_lang_id) against the ground-truth lang column — per
    (true, predicted) cell count plus the row-normalized share (the
    per-language recall diagonal). The eval every lang-router needs
    before its output keys a per-language pipeline (CCNet buckets,
    fertility budgets, dedup scopes): a language whose diagonal share
    sags is being mis-routed wholesale.

    The predictor is the already-hash-matched q_lang_id expression;
    this adds one (lang, pred)-keyed map-side-combined count and a
    window over the ≤ |langs|² cells — control-plane sized by
    construction. All counts exact; one rounded share."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    p = docs.select("lang", T.predict_lang("text").alias("pred_lang"))
    cell = p.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w = Window.partitionBy("lang")
    return cell.select(
        "lang",
        "pred_lang",
        "n",
        F.round(F.col("n") / F.sum("n").over(w).cast("double"), 8).alias(
            "row_share"
        ),
    )


@register(
    "q_dedup_cluster_stats",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    clusters AS (
        SELECT LEAST(a, MIN(b)) AS cluster_id,
               COUNT(DISTINCT CASE WHEN b <> a THEN b END) + 1 AS n_docs
        FROM reach GROUP BY a
        HAVING LEAST(a, MIN(b)) = a
    ),
    dist AS (
        SELECT CAST(n_docs AS BIGINT) AS cluster_size,
               CAST(COUNT(*) AS BIGINT) AS n_clusters
        FROM clusters GROUP BY 1
    )
    SELECT cluster_size, n_clusters,
           cluster_size * n_clusters AS n_docs_covered
    FROM dist
    UNION ALL
    SELECT 1,
           (SELECT COUNT(*) FROM documents)
             - CAST(COALESCE((SELECT SUM(n_docs) FROM clusters), 0) AS BIGINT),
           (SELECT COUNT(*) FROM documents)
             - CAST(COALESCE((SELECT SUM(n_docs) FROM clusters), 0) AS BIGINT)
    """,
)
def q_dedup_cluster_stats(spark, sf_dir):
    """Dedup-cluster size distribution — the dedup ACCOUNTING view a
    corpus report needs (how much of the corpus sits in dup clusters,
    and in how many / how large): one row per realized cluster size
    with the cluster count and covered-doc mass, plus the singleton
    row (docs in no near-dup component — componentized clusters are
    always size ≥ 2, so the union never collides). Composes the
    already-hash-matched q_dedup_clusters machinery (df-capped exact
    Jaccard edges → iterative min-label connected components); the
    distribution is one size-keyed count over the ≤ |clusters| rows
    plus two scalar aggregates. All counts exact.

    At 100 TB: identical scale shape to q_dedup_clusters (the
    component iteration is the bounded-rounds min-label join); the
    stats stage is control-plane sized."""
    from big_data_projects_spark.operators.components import (
        connected_components,
    )
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    edges = D.ngram_jaccard_pairs(docs, threshold=0.1).select(
        "doc_a", "doc_b"
    )
    comps = connected_components(edges, src="doc_a", dst="doc_b")
    clusters = (
        comps.groupBy("comp")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .coalesce(1)  # control-plane sized; see q_graph_modularity note
        # localCheckpoint, not persist: both consumers (distribution +
        # covered-mass scalar) would otherwise re-analyze the whole
        # jaccard + CC lineage per action (the q_graph_modularity
        # round-9 finding, 2-branch edition).
        .localCheckpoint()
    )
    dist = clusters.groupBy(
        F.col("n_docs").cast("long").alias("cluster_size")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_clusters"))
    dist = dist.select(
        "cluster_size",
        "n_clusters",
        (F.col("cluster_size") * F.col("n_clusters")).alias(
            "n_docs_covered"
        ),
    )
    covered = clusters.agg(
        F.coalesce(F.sum("n_docs"), F.lit(0)).cast("long").alias("cov")
    )
    total = docs.agg(F.count(F.lit(1)).alias("n"))
    singles = (
        total.crossJoin(F.broadcast(covered))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            (F.col("n") - F.col("cov")).cast("long").alias("n_clusters"),
            (F.col("n") - F.col("cov")).cast("long").alias("n_docs_covered"),
        )
    )
    return dist.unionAll(singles)


def _simhash_hist_oracle() -> str:
    from big_data_projects_spark.operators.dedup import (
        SIMHASH_BITS, SIMHASH_SEGMENTS, simhash_oracle_sql,
    )

    seg_bits = SIMHASH_BITS // SIMHASH_SEGMENTS
    mask = (1 << seg_bits) - 1
    seg_selects = "\n        UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS seg, "
        f"(simhash >> {i * seg_bits}) & {mask} AS key FROM sh"
        for i in range(SIMHASH_SEGMENTS)
    )
    return f"""
    WITH sh AS MATERIALIZED ({simhash_oracle_sql()}),
    segs AS MATERIALIZED (
        {seg_selects}
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
               a.simhash AS ha, b.simhash AS hb
        FROM segs a
        JOIN segs b ON a.seg = b.seg AND a.key = b.key
                   AND a.doc_id < b.doc_id
    )
    SELECT CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           bit_count(xor(ha, hb)) <= 3 AS is_near_dup
    FROM cand
    GROUP BY 1, 3
    """


@register("q_simhash_hamming_hist", oracle=_simhash_hist_oracle())
def q_simhash_hamming_hist(spark, sf_dir):
    """SimHash index selectivity profile — the histogram of hamming
    distances over the pigeonhole CANDIDATE pairs (every pair sharing
    at least one 15-bit segment of the 60-bit hash): the tuning view
    that shows how much of the candidate volume is real near-dup mass
    (hamming ≤ 3, the q_simhash_pairs emit set) versus segment-
    collision noise the exact filter discards — i.e. whether the
    4-segment blocking is pulling its weight on YOUR corpus or needs
    more/wider segments. Composes the hash-matched simhash and the
    q_simhash_pairs segment machinery; one distinct pair set, one
    hamming-keyed count. All exact integers.

    At 100 TB: identical candidate shape to q_simhash_pairs
    (segment-keyed equi-join, never all-pairs); the histogram is ≤ 61
    rows."""
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sh = D.simhash(docs, "doc_id", "text")
    seg_bits = D.SIMHASH_BITS // D.SIMHASH_SEGMENTS
    mask = (1 << seg_bits) - 1
    segs = (
        sh.select(
            "doc_id",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("seg"),
                            F.shiftright(F.col("simhash"), i * seg_bits)
                            .bitwiseAND(mask)
                            .alias("key"),
                        )
                        for i in range(D.SIMHASH_SEGMENTS)
                    ]
                )
            ).alias("sk"),
        )
        .select("doc_id", "simhash", "sk.seg", "sk.key")
        .persist()  # both self-join sides
    )
    a = segs.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"),
        "seg", "key",
    )
    b = segs.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"),
        "seg", "key",
    )
    # Compute hamming BEFORE the cross-segment pair dedupe (r13, guide
    # §2.3): hamming is a pure function of the pair (one simhash per
    # doc), so distinct-ing (doc_a, doc_b, hamming) is set-identical to
    # distinct-ing the pair with both 8-byte hashes attached — and the
    # dedupe exchange carries 24-byte rows instead of 32.
    hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long")
    cand = (
        a.join(b, ["seg", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .distinct()
    )
    return (
        cand.select("hamming")
        .groupBy("hamming")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "hamming", "n_pairs", (F.col("hamming") <= 3).alias("is_near_dup")
        )
    )


@register(
    "q_graph_modularity",
    oracle=r"""
    WITH RECURSIVE toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    ),
    sym AS (
        SELECT doc_a AS a, doc_b AS b FROM edges
        UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS MATERIALIZED (
        SELECT a AS node, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a
    ),
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM edges),
    intra AS (
        SELECT ca.comp, CAST(COUNT(*) AS BIGINT) AS e_c
        FROM edges e
        JOIN comp ca ON ca.node = e.doc_a
        JOIN comp cb ON cb.node = e.doc_b AND cb.comp = ca.comp
        GROUP BY 1
    ),
    deg AS (
        SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY 1
    ),
    dsum AS (
        SELECT c.comp, CAST(SUM(d.d) AS BIGINT) AS d_c
        FROM comp c JOIN deg d ON d.node = c.node GROUP BY 1
    ),
    terms AS (
        SELECT CAST(round(
                   COALESCE(i.e_c, 0) / CAST(m.m AS DOUBLE)
                   - (ds.d_c / (2.0 * m.m)) * (ds.d_c / (2.0 * m.m)), 12)
                 AS DECIMAL(38, 14)) AS x
        FROM dsum ds
        LEFT JOIN intra i ON i.comp = ds.comp
        CROSS JOIN m
    )
    SELECT (SELECT m FROM m) AS n_edges,
           CAST((SELECT COUNT(*) FROM dsum) AS BIGINT) AS n_communities,
           round(CAST(SUM(x) AS DOUBLE), 8) AS modularity,
           CAST(SUM(x) AS DOUBLE) > 0.0 AS is_modular
    FROM terms
    """,
)
def q_graph_modularity(spark, sf_dir):
    """Newman modularity of the near-dup graph's connected-component
    partition — the community-quality score (Q = Σ_c e_c/m −
    (d_c/2m)²) that tells you whether the dedup graph is a few dense
    families (Q near its partition-theoretic max — safe to pick one
    representative per component) or one percolated hairball (Q ≈ 0 —
    a component is NOT a semantic family and keep-one-per-component
    would over-delete). Components ARE perfect communities for
    intra-edge purposes (every edge is intra by definition, e_c sums
    to m) so Q reduces to 1 − Σ(d_c/2m)² — the oracle states the full
    general formula anyway, pinning the edge/degree/community joins.

    All inputs exact integers (edge counts, degree sums); each
    community's term is round-12 decimal-summed, final Q rounded to 8.
    Scale shape: the hash-matched q_dedup_clusters machinery plus
    three keyed aggregates (degree, intra-edge, degree-mass) — all
    map-side combined; the term table is |communities| rows."""
    from big_data_projects_spark.operators.components import (
        connected_components,
    )
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    # Both shared relations are control-plane sized (hundreds of rows)
    # yet land spread over shuffle-partition-many partitions; coalesce
    # before the 4-branch fan-out so every downstream stage runs a
    # handful of tasks instead of 32 empty ones per branch (narrow
    # coalesce — no exchange, linter-clean).  localCheckpoint, not
    # persist: persist caches the ROWS but every one of the four
    # downstream branches still carries (and re-analyzes) the whole
    # jaccard + CC lineage in its plan — measured 10-12 s per run at
    # sf0.1 vs 4.3-5.6 s with the lineage truncated (round 9; the
    # same Catalyst-analysis-dominates regime as the round-6
    # checkpoint-cadence negative result, from the other side).
    edges = (
        D.ngram_jaccard_pairs(docs, threshold=0.1)
        .select("doc_a", "doc_b")
        .coalesce(1)
        .localCheckpoint()  # feeds m, intra, and (twice) the degrees
    )
    comp = (
        connected_components(edges, src="doc_a", dst="doc_b")
        .coalesce(1)
        .localCheckpoint()
    )
    m = edges.agg(F.count(F.lit(1)).cast("long").alias("m"))
    ca = comp.select(F.col("node").alias("doc_a"), F.col("comp").alias("c_a"))
    cb = comp.select(F.col("node").alias("doc_b"), F.col("comp").alias("c_b"))
    intra = (
        edges.join(ca, "doc_a")
        .join(cb, "doc_b")
        .filter(F.col("c_a") == F.col("c_b"))
        .groupBy(F.col("c_a").alias("comp"))
        .agg(F.count(F.lit(1)).cast("long").alias("e_c"))
    )
    sym = edges.select(F.col("doc_a").alias("node")).unionAll(
        edges.select(F.col("doc_b").alias("node"))
    )
    deg = sym.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("d"))
    dsum = (
        comp.join(deg, "node")
        .groupBy("comp")
        .agg(F.sum("d").cast("long").alias("d_c"))
    )
    terms = (
        dsum.join(intra, "comp", "left")
        .crossJoin(F.broadcast(m))
        .select(
            F.round(
                F.coalesce(F.col("e_c"), F.lit(0)) / F.col("m").cast("double")
                - (F.col("d_c") / (F.lit(2.0) * F.col("m")))
                * (F.col("d_c") / (F.lit(2.0) * F.col("m"))),
                12,
            )
            .cast("decimal(38,14)")
            .alias("x")
        )
    )
    ncom = dsum.agg(F.count(F.lit(1)).cast("long").alias("n_communities"))
    q = terms.agg(F.sum("x").cast("double").alias("q"))
    return (
        m.crossJoin(F.broadcast(ncom))
        .crossJoin(F.broadcast(q))
        .select(
            F.col("m").alias("n_edges"),
            "n_communities",
            F.round(F.col("q"), 8).alias("modularity"),
            (F.col("q") > 0.0).alias("is_modular"),
        )
    )


@register(
    "q_ngram_entropy_rate",
    oracle=r"""
    WITH t AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    bg AS (
        SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i] || ' ' || t[i + 1])) AS b,
               unnest(list_transform(generate_series(1, len(t) - 1),
                                     i -> t[i])) AS w1
        FROM t
    ),
    c2 AS (SELECT w1, b, COUNT(*) AS c FROM bg GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM c2),
    terms AS (
        SELECT CAST(round(
                   (c2.c / CAST(n.n AS DOUBLE))
                   * ln(c2.c / CAST(c1.c1 AS DOUBLE)), 12)
                 AS DECIMAL(38, 14)) AS x
        FROM c2 JOIN c1 USING (w1) CROSS JOIN n
    )
    SELECT (SELECT n FROM n) AS n_bigrams,
           CAST((SELECT COUNT(*) FROM c1) AS BIGINT) AS n_contexts,
           round(-CAST(SUM(x) AS DOUBLE), 8) AS cond_entropy_nats,
           -CAST(SUM(x) AS DOUBLE) > 0.0 AS positive
    FROM terms
    """,
)
def q_ngram_entropy_rate(spark, sf_dir):
    """Corpus entropy rate — the bigram conditional entropy
    H(w₂|w₁) = −Σ p(w₁,w₂)·ln p(w₂|w₁) — the information-theoretic
    corpus diagnostic that the repetition/template detectors
    approximate: natural language sits well above boilerplate (whose
    next-token is near-deterministic, H → 0), and a corpus whose
    entropy rate collapses after dedup/filtering has been scrubbed
    into templates. Exact integer bigram/context counts; each
    plogp-style term is rounded to 12 and decimal-summed
    (order-independent, restatable), the final value rounded to 8.

    One in-row bigram expansion (zip of slices — no position
    self-join), one (context, bigram) groupBy map-side combined, one
    context rollup, one broadcast scalar — the q_kn_bigram_ppl count
    shapes without the scoring join."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(T.tokens("text").alias("t"))
    bg = t.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("t"), 1, F.greatest(F.size("t") - 1, F.lit(0))),
                F.expr("slice(t, 2, greatest(size(t) - 1, 0))"),
                lambda a, b: F.struct(
                    a.alias("w1"), F.concat(a, F.lit(" "), b).alias("b")
                ),
            )
        ).alias("p")
    ).select("p.w1", "p.b")
    c2 = bg.groupBy("w1", "b").agg(F.count(F.lit(1)).alias("c"))
    c1 = c2.groupBy("w1").agg(F.sum("c").cast("long").alias("c1"))
    n = c2.agg(F.sum("c").cast("long").alias("n"))
    terms = (
        c2.join(c1, "w1")
        .crossJoin(F.broadcast(n))
        .select(
            F.round(
                (F.col("c") / F.col("n").cast("double"))
                * F.log(F.col("c") / F.col("c1").cast("double")),
                12,
            )
            .cast("decimal(38,14)")
            .alias("x")
        )
    )
    nctx = c1.agg(F.count(F.lit(1)).cast("long").alias("n_contexts"))
    s = terms.agg(F.sum("x").cast("double").alias("s"))
    return (
        n.crossJoin(F.broadcast(nctx))
        .crossJoin(F.broadcast(s))
        .select(
            F.col("n").alias("n_bigrams"),
            "n_contexts",
            F.round(-F.col("s"), 8).alias("cond_entropy_nats"),
            (-F.col("s") > 0.0).alias("positive"),
        )
    )


# ---------------------------------------------------------------------------
# Round-6 additions: sampled-eval, provenance-leakage, and label-QA
# views — each named for the pipeline gap its family table lacked
# (VERDICT r5 item #7).
# ---------------------------------------------------------------------------

PASS_AT_K_PROBLEMS = 25  # deterministic md5 bucketing of docs into problems
PASS_AT_K_KS = (1, 5, 10)


def _pass_at_k_estimator_sql(k: int) -> str:
    """Unbiased pass@k (Chen et al., "Evaluating Large Language Models
    Trained on Code", 2021): 1 - C(n-c,k)/C(n,k), with the binomial
    ratio unrolled as a left-associated product of double ratios so
    Spark and DuckDB execute the identical IEEE expression."""
    prod = " * ".join(
        f"(CAST(n - c - {i} AS DOUBLE) / (n - {i}))" for i in range(k)
    )
    return f"CASE WHEN n - c < {k} THEN 1.0 ELSE 1.0 - ({prod}) END"


def _pass_at_k_oracle() -> str:
    blocks = []
    for k in PASS_AT_K_KS:
        blocks.append(f"""
    SELECT CAST({k} AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_problems,
           round(CAST(SUM(CAST(round({_pass_at_k_estimator_sql(k)}, 12)
                              AS DECIMAL(38, 14))) AS DOUBLE)
                 / COUNT(*), 8) AS pass_at_k
    FROM p WHERE n >= {k}""")
        
    union = "\n    UNION ALL".join(blocks)
    return f"""
    WITH s AS (
        SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % {PASS_AT_K_PROBLEMS} AS problem_id,
               CASE WHEN substr(md5(text), 1, 1) < '8' THEN 1 ELSE 0 END
                 AS pass
        FROM documents
    ),
    p AS MATERIALIZED (
        SELECT problem_id, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(pass) AS BIGINT) AS c
        FROM s GROUP BY 1
    )
    {union}
    """


@register("q_pass_at_k", oracle=_pass_at_k_oracle())
def q_pass_at_k(spark, sf_dir):
    """Unbiased pass@k over per-problem sample outcomes (Chen et al.
    2021's combinatorial estimator, the standard sampled-eval success
    metric) — the view an eval pipeline runs over (problem, sample,
    verdict) grading tables to report pass@1/5/10. The eval family had
    retrieval metrics (recall@10, matryoshka truncation, purity,
    calibration) but nothing for SAMPLED generation evals, where naive
    c/n-then-power is biased and the C(n-c,k)/C(n,k) estimator is the
    accepted fix.

    The container has no sandboxed grader, so the verdict column is a
    deterministic md5-bit stand-in (~Bernoulli(1/2) per sample) and
    documents stand in for sampled completions, md5-bucketed into
    problems — the REAL surface is the per-problem (n, c) aggregation
    and the exact unrolled estimator arithmetic, identical expression
    text on both engines, each per-problem value rounded to 12 and
    decimal-summed so the mean is order-independent.

    At 100 TB: one groupBy to the problem-sized (n, c) table, then
    three scalar aggregates over it — no joins, no windows, no
    collect."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        (
            F.conv(
                F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
                16, 10,
            ).cast("long")
            % PASS_AT_K_PROBLEMS
        ).alias("problem_id"),
        F.when(F.substring(F.md5("text"), 1, 1) < "8", 1)
        .otherwise(0)
        .alias("pass"),
    )
    p = (
        s.groupBy("problem_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("pass").cast("long").alias("c"),
        )
        .persist()  # three k-sweeps read it; problem-count sized
    )
    parts = []
    for k in PASS_AT_K_KS:
        prod = None
        for i in range(k):
            term = (F.col("n") - F.col("c") - F.lit(i)).cast("double") / (
                F.col("n") - F.lit(i)
            )
            prod = term if prod is None else prod * term
        est = F.when(F.col("n") - F.col("c") < k, F.lit(1.0)).otherwise(
            F.lit(1.0) - prod
        )
        parts.append(
            p.filter(F.col("n") >= k).agg(
                F.lit(k).cast("long").alias("k"),
                F.count(F.lit(1)).cast("long").alias("n_problems"),
                F.round(
                    F.sum(F.round(est, 12).cast("decimal(38,14)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1)),
                    8,
                ).alias("pass_at_k"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionAll(part)
    return out


@register(
    "q_cross_source_leakage",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.1
    )
    SELECT LEAST(da.source, db.source) AS src_a,
           GREATEST(da.source, db.source) AS src_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           LEAST(da.source, db.source) <> GREATEST(da.source, db.source)
             AS is_cross
    FROM edges e
    JOIN documents da ON da.doc_id = e.doc_a
    JOIN documents db ON db.doc_id = e.doc_b
    GROUP BY 1, 2, 4
    """,
)
def q_cross_source_leakage(spark, sf_dir):
    """Cross-source near-duplicate leakage matrix: for every unordered
    pair of corpus sources, how many near-dup pairs (n-gram Jaccard ≥
    0.1, the hash-matched q_dedup_clusters edge set) span them. The
    dedup-accounting family had cluster sizes and modularity but no
    PROVENANCE view — this is the report that tells you a web crawl
    re-serves your curated corpus (high cross-source mass → dedup
    BEFORE mixing, and discount the crawl's token budget), versus
    within-source boilerplate only (high diagonal).

    At 100 TB: the established df-capped shingle equi-join produces
    the edges; attaching sources is two column-pruned keyed joins of
    the pair list against the (doc_id, source) projection; the output
    is |sources|² rows. No new hazard beyond the tracked pair
    machinery."""
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=0.1).select(
        "doc_a", "doc_b"
    )
    da = docs.select(
        F.col("doc_id").alias("doc_a"), F.col("source").alias("s1")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_b"), F.col("source").alias("s2")
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.least("s1", "s2").alias("src_a"),
            F.greatest("s1", "s2").alias("src_b"),
        )
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        .select(
            "src_a",
            "src_b",
            "n_pairs",
            (F.col("src_a") != F.col("src_b")).alias("is_cross"),
        )
    )


@register(
    "q_annotator_agreement",
    oracle="""
    WITH r AS (
        SELECT CASE WHEN len(regexp_split_to_array(trim(lower(text)), '\\s+')) >= 40
                    THEN 1 ELSE 0 END AS a,
               CASE WHEN n_chars >= 220 THEN 1 ELSE 0 END AS b
        FROM documents
    ),
    c AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(a * b) AS BIGINT) AS n11,
               CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
               CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
               CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
        FROM r
    )
    SELECT n AS n_docs, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / n, 8) AS po,
           round((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                 + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n),
                 8) AS pe,
           CASE WHEN (CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                     + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)
                     = 1.0
                THEN 1.0
                ELSE round(
                    (CAST(n11 + n00 AS DOUBLE) / n
                     - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                        + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n)))
                    / (1.0
                       - ((CAST(n11 + n10 AS DOUBLE) / n) * (CAST(n11 + n01 AS DOUBLE) / n)
                          + (CAST(n01 + n00 AS DOUBLE) / n) * (CAST(n10 + n00 AS DOUBLE) / n))),
                    8) END AS kappa
    FROM c
    """,
)
def q_annotator_agreement(spark, sf_dir):
    """Cohen's kappa between two binary raters — the label-noise QA
    gate a preference/annotation pipeline runs before trusting its
    labels (raw percent agreement overstates quality when the base
    rate is skewed; kappa is the chance-corrected standard). The
    preference family had pair construction, Bradley-Terry strength
    fitting, and ROUGE consistency, but no inter-rater agreement
    check — the first thing you compute on doubly-annotated data.

    No annotator columns exist in the testdata, so two deterministic
    quality gates stand in for the raters (token count ≥ 40 vs
    n_chars ≥ 220 — correlated through document length, so kappa is
    meaningfully positive): the REAL surface is the 2×2 contingency
    aggregate and the exact po/pe/kappa arithmetic, identical
    expression text on both engines, rounded to 8.

    At 100 TB: one map-side-combined conditional-sum aggregate to a
    single row — no shuffle beyond the 1-row combine, no collect."""
    docs = load_table(spark, sf_dir, "documents")
    r = docs.select(
        F.when(F.size(T.tokens("text")) >= 40, 1).otherwise(0).alias("a"),
        F.when(F.col("n_chars") >= 220, 1).otherwise(0).alias("b"),
    )
    c = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    n_d = F.col("n")  # long; long/long division -> double, as in DuckDB
    po = (F.col("n11") + F.col("n00")).cast("double") / n_d
    pe = (
        (F.col("n11") + F.col("n10")).cast("double") / n_d
    ) * ((F.col("n11") + F.col("n01")).cast("double") / n_d) + (
        (F.col("n01") + F.col("n00")).cast("double") / n_d
    ) * ((F.col("n10") + F.col("n00")).cast("double") / n_d)
    return c.select(
        F.col("n").alias("n_docs"),
        "n11",
        "n10",
        "n01",
        "n00",
        F.round(po, 8).alias("po"),
        F.round(pe, 8).alias("pe"),
        F.when(pe == 1.0, F.lit(1.0))
        .otherwise(F.round((po - pe) / (F.lit(1.0) - pe), 8))
        .alias("kappa"),
    )


def _dsir_ess_oracle() -> str:
    from big_data_projects_spark.registry import REGISTRY

    return f"""
    WITH dsir AS MATERIALIZED ({REGISTRY["q_dsir_weights"].oracle}),
    m AS (SELECT MAX(log_weight) AS mx FROM dsir),
    w AS (
        SELECT round(exp(log_weight - mx), 12) AS w
        FROM dsir CROSS JOIN m
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(w AS DECIMAL(38, 14))) AS DOUBLE) AS sw,
               CAST(SUM(CAST(round(w * w, 12) AS DECIMAL(38, 14)))
                    AS DOUBLE) AS sw2,
               MAX(w) AS wmax
        FROM w
    )
    SELECT n AS n_docs,
           round(sw * sw / sw2, 8) AS ess,
           round(sw * sw / sw2 / n, 8) AS ess_fraction,
           round(wmax / sw, 8) AS max_weight_share
    FROM s
    """


@register("q_dsir_ess", oracle=_dsir_ess_oracle())
def q_dsir_ess(spark, sf_dir):
    """Effective sample size of the DSIR importance weights — the
    degeneracy check run BEFORE importance resampling (the R in DSIR):
    ESS = (Σw)²/Σw² over the max-normalized weights w = exp(lw − max
    lw). ESS ≈ n means near-uniform weights (resampling keeps corpus
    diversity); ESS ≪ n means a few documents dominate and resampling
    would collapse the corpus onto them — the standard importance-
    sampling diagnostic (Kong 1992) the curation family's weight
    PRODUCER (q_dsir_weights) did not yet audit. max_weight_share is
    the companion single-point concentration check.

    Determinism: exp() is transcendental, so each weight is rounded to
    12 before use (the repo's ln() discipline); Σw and Σw² accumulate
    as DECIMAL(38,14) (order-free); the squares are computed in double
    from the already-rounded weights — never a decimal→double cast,
    whose rounding engines disagree on. Finals rounded to 8.

    At 100 TB: composes the q_dsir_weights dataflow (one broadcast
    ratio join + doc-keyed sum) with one max aggregate broadcast back
    and one map-side-combined moment aggregate — no new shuffle
    beyond the producer's."""
    dsir = q_dsir_weights(spark, sf_dir)
    mx = dsir.agg(F.max("log_weight").alias("mx"))
    w = dsir.crossJoin(F.broadcast(mx)).select(
        F.round(F.exp(F.col("log_weight") - F.col("mx")), 12).alias("w")
    )
    s = w.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("w").cast("decimal(38,14)")).cast("double").alias("sw"),
        F.sum(
            F.round(F.col("w") * F.col("w"), 12).cast("decimal(38,14)")
        )
        .cast("double")
        .alias("sw2"),
        F.max("w").alias("wmax"),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.round(F.col("sw") * F.col("sw") / F.col("sw2"), 8).alias("ess"),
        F.round(
            F.col("sw") * F.col("sw") / F.col("sw2") / F.col("n"), 8
        ).alias("ess_fraction"),
        F.round(F.col("wmax") / F.col("sw"), 8).alias("max_weight_share"),
    )


IVF_PROBE_SWEEP = (1, 2, 4)


def _ivf_probe_recall_oracle() -> str:
    blocks = []
    for np_ in IVF_PROBE_SWEEP:
        blocks.append(f"""
    SELECT CAST({np_} AS BIGINT) AS n_probe, e.qid,
           CAST(COUNT(i.vec_id) AS BIGINT) AS n_overlap,
           COUNT(i.vec_id) / 10.0 AS recall_at_10
    FROM ex e LEFT JOIN (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS r
        FROM scored WHERE prank <= {np_}
    ) i ON i.qid = e.qid AND i.vec_id = e.vec_id AND i.r <= 10
    WHERE e.r <= 10
    GROUP BY e.qid""")
    union = "\n    UNION ALL".join(blocks)
    return f"""
    WITH pos AS (
        SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings,
             UNNEST(generate_series(1, len(embedding))) AS u(i)
    ),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
        FROM pos GROUP BY 1, 2
    ),
    cvec AS (
        SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
    ),
    panel AS (
        SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 20
    ),
    pr AS (
        SELECT p.qid, c.label,
               ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
                   list_dot_product(c.centroid, p.qv) /
                   (sqrt(list_dot_product(c.centroid, c.centroid)) *
                    sqrt(list_dot_product(p.qv, p.qv))) DESC, c.label)
                 AS prank
        FROM cvec c CROSS JOIN panel p
    ),
    scored AS MATERIALIZED (
        SELECT p.qid, e.vec_id, pr.prank,
               list_dot_product(e.embedding::DOUBLE[], p.qv) /
               (sqrt(list_dot_product(e.embedding::DOUBLE[],
                                      e.embedding::DOUBLE[])) *
                sqrt(list_dot_product(p.qv, p.qv))) AS sim
        FROM embeddings e
        JOIN panel p ON e.vec_id <> p.qid
        JOIN pr ON pr.qid = p.qid AND pr.label = e.label
    ),
    ex AS (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY sim DESC, vec_id) AS r
        FROM scored
    )
    {union}
    """


@register("q_ivf_probe_recall", oracle=_ivf_probe_recall_oracle())
def q_ivf_probe_recall(spark, sf_dir):
    """IVF probe-count tuning curve: recall@10 of probe-limited search
    vs unrestricted exact cosine for n_probe ∈ {1, 2, 4}, per query of
    the fixed 20-query md5 panel — the recall/latency dial of an IVF
    serving index (FAISS nprobe). The evaluation family audited the
    int8 index (q_ann_recall), the MRL truncation (q_matryoshka_recall)
    and the LSH candidate generator (q_lsh_quality), but not the IVF
    index q_knn_ivf serves — this is that missing view: it tells you
    how many posting lists a query must probe before recall plateaus
    on YOUR corpus and clustering.

    One scored relation (panel × corpus cosine, each row carrying its
    label's centroid-distance probe rank for that query) feeds the
    exact rank AND every probe-limited rank, so the sweep re-ranks a
    filter of the same rows rather than re-scoring. Sims and centroid
    means are the hash-matched q_knn_ivf expressions; ranks carry
    vec_id tie-breaks; counts are exact.

    At 100 TB: centroids are one posexplode groupBy (|labels|×dim
    cells, map-side combined); probe ranks are a 20×|labels|
    control-plane window; scoring is one corpus scan against the
    broadcast 20-row panel (the q_ann_recall BNL precedent, corpus
    SAMPLE at extreme scale); the rank windows partition per panel
    query."""
    from pyspark.sql import Window
    from big_data_projects_spark.operators import similarity as S

    emb = load_table(spark, sf_dir, "embeddings")
    panel = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(20)
        .select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("__qv")
        )
        .persist()  # pranks AND scored read it: one md5 order-by scan,
        # not two (ADVICE r6)
    )
    centroids = (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(38,10)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("m")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
        .select("label", F.expr("transform(pm, x -> x.m)").alias("centroid"))
    )
    pr_w = Window.partitionBy("qid").orderBy(F.desc("csim"), F.col("label"))
    pranks = (
        centroids.crossJoin(F.broadcast(panel))
        .select(
            "qid",
            "label",
            S.cosine_sim_total(F.col("centroid"), F.col("__qv")).alias("csim"),
        )
        .withColumn("prank", F.row_number().over(pr_w))
        .select("qid", "label", "prank")
    )
    # The panel×corpus cosine folds run in the corpus scan stage —
    # single-threaded on a one-row-group testdata scan; spread the
    # corpus rows across cores first (no-op at real scale — see
    # data.spread_small_scan; r12 optimization).
    from big_data_projects_spark.data import spread_small_scan

    scored = (
        spread_small_scan(emb.select("vec_id", "label", "embedding"))
        .crossJoin(F.broadcast(panel))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            "label",
            S.cosine_sim_total(F.col("embedding"), F.col("__qv")).alias("sim"),
        )
        .join(F.broadcast(pranks), ["qid", "label"])
        .persist()  # exact rank + three probe-limited ranks read it
    )
    rank_w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.col("vec_id"))

    def top10(df):
        return (
            df.withColumn("r", F.row_number().over(rank_w))
            .where(F.col("r") <= 10)
            .select("qid", "vec_id")
        )

    ex = top10(scored).persist()  # compared against every sweep point
    parts = []
    for np_ in IVF_PROBE_SWEEP:
        ivf = top10(scored.where(F.col("prank") <= np_)).withColumn(
            "__hit", F.lit(1)
        )
        parts.append(
            ex.join(ivf, ["qid", "vec_id"], "left")
            .groupBy("qid")
            .agg(
                F.count("__hit").cast("long").alias("n_overlap"),
            )
            .select(
                F.lit(np_).cast("long").alias("n_probe"),
                "qid",
                "n_overlap",
                (F.col("n_overlap") / F.lit(10.0)).alias("recall_at_10"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionAll(part)
    return out


DEDUP_THRESHOLD_SWEEP = (0.1, 0.3, 0.5)


def _dedup_threshold_sweep_oracle() -> str:
    blocks = []
    for t in DEDUP_THRESHOLD_SWEEP:
        blocks.append(f"""
    SELECT CAST({t} AS DOUBLE) AS threshold,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
            WHERE j >= CAST({t} AS DOUBLE)) AS n_pairs,
           (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM (
                SELECT doc_a AS d FROM pairs WHERE j >= CAST({t} AS DOUBLE)
                UNION ALL
                SELECT doc_b FROM pairs WHERE j >= CAST({t} AS DOUBLE)))
             AS n_docs_flagged,
           round((SELECT COUNT(DISTINCT d) FROM (
                SELECT doc_a AS d FROM pairs WHERE j >= CAST({t} AS DOUBLE)
                UNION ALL
                SELECT doc_b FROM pairs WHERE j >= CAST({t} AS DOUBLE)))
             / CAST((SELECT n FROM tot) AS DOUBLE), 8) AS docs_share""")
    union = "\n    UNION ALL".join(blocks)
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
        SELECT doc_a, doc_b,
               n_common / (sa.n_sh + sb.n_sh - n_common) AS j
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common)
              >= CAST({DEDUP_THRESHOLD_SWEEP[0]} AS DOUBLE)
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    {union}
    """


@register(
    "q_dedup_threshold_sweep", oracle=_dedup_threshold_sweep_oracle()
)
def q_dedup_threshold_sweep(spark, sf_dir):
    """Dedup-threshold sensitivity curve: near-dup pair count, flagged
    document count, and flagged corpus share at Jaccard ≥ 0.1 / 0.3 /
    0.5 — the tuning view for the ONE free parameter every fuzzy-dedup
    deployment must choose. A threshold set too low deletes topical
    siblings; too high keeps boilerplate twins — this curve shows
    where YOUR corpus's dup mass actually sits. Completes the
    evaluation family's tuning-curve trio (q_lsh_quality tunes the
    candidate generator, q_ivf_probe_recall the index probes, this the
    decision threshold itself).

    The pair relation is built ONCE at the lowest threshold carrying
    the exact Jaccard value (identical double expression in both
    engines), then each sweep point filters the same rows — no
    re-shingling per threshold. Counts exact; the share is one
    round-8 division.

    At 100 TB: the established df-capped shingle equi-join produces
    the value-carrying pairs; each sweep point is two aggregates over
    that relation (the distinct-doc count shuffles doc ids only)."""
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    # localCheckpoint, not persist: six count branches (two per sweep
    # point) would each re-analyze the full shingle-join lineage per
    # action (the q_graph_modularity round-9 finding; ~20% here).
    # q_lsh_quality measured the same swap NEUTRAL-to-worse — its
    # consumers join pair relations rather than re-aggregate them, so
    # eager materialization blocks the pipeline instead of saving
    # analysis — and keeps persist.
    pairs = D.ngram_jaccard_pairs(
        docs, threshold=DEDUP_THRESHOLD_SWEEP[0]
    ).localCheckpoint()  # every sweep point filters this one relation
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    parts = []
    for t in DEDUP_THRESHOLD_SWEEP:
        f = pairs.where(F.col("jaccard") >= F.lit(t).cast("double"))
        n_pairs = f.agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
        n_docs = (
            f.select(F.col("doc_a").alias("d"))
            .unionAll(f.select(F.col("doc_b").alias("d")))
            .agg(F.count_distinct("d").cast("long").alias("n_docs_flagged"))
        )
        parts.append(
            n_pairs.crossJoin(F.broadcast(n_docs))
            .crossJoin(F.broadcast(tot))
            .select(
                F.lit(t).cast("double").alias("threshold"),
                "n_pairs",
                "n_docs_flagged",
                F.round(
                    F.col("n_docs_flagged") / F.col("n").cast("double"), 8
                ).alias("docs_share"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionAll(part)
    return out


@register(
    "q_pii_prevalence",
    oracle=r"""
    WITH synth AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS n_toks,
               text
               || CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 5 = 0
                       THEN ' contact user' || CAST(doc_id AS VARCHAR)
                            || '@mail.example.com'
                       ELSE '' END
               || CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                             AS BIGINT) % 7 = 0
                       THEN ' call +1-555-'
                            || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS raw
        FROM documents
    ),
    per_doc AS (
        SELECT source, n_toks,
               CAST(len(regexp_extract_all(raw,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                    AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(raw, '\+?\d[\d-]{7,}\d'))
                    AS BIGINT) AS n_phones
        FROM synth
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_email,
           CAST(SUM(CASE WHEN n_phones > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_with_phone,
           CAST(SUM(n_emails + n_phones) AS BIGINT) AS n_spans,
           round(SUM(n_emails + n_phones)
                 / (CAST(SUM(n_toks) AS DOUBLE) / 1000.0), 8)
             AS spans_per_1k_tokens
    FROM per_doc
    GROUP BY source
    """,
)
def q_pii_prevalence(spark, sf_dir):
    """Per-source PII prevalence report — the audit run BEFORE
    deciding which sources need scrubbing at all (and the compliance
    evidence after): per source, how many documents contain any
    email/phone span and the span density per 1k tokens. q_pii_redact
    is the scrubber; this is the decision/report view over the same
    portable regexes. PII is injected into deterministic md5-selected
    SUBSETS (1-in-5 docs get an email, 1-in-7 a phone — independent
    sets, so the per-source rates genuinely vary), making prevalence
    a real measured quantity rather than 100% by construction.

    At 100 TB: per-row regex counting in codegen (no UDF), one
    source-keyed map-side-combined aggregate — the q_dataset_report
    shape."""
    from big_data_projects_spark.queries_corpus import EMAIL_RE, PHONE_RE

    docs = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    )
    raw = F.concat(
        F.col("text"),
        F.when(
            h % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            h % 7 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    per_doc = docs.select(
        "source",
        F.size(T.tokens("text")).cast("long").alias("n_toks"),
        F.regexp_count(raw, F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(raw, F.lit(PHONE_RE)).cast("long").alias("n_phones"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("n_emails") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_email"),
        F.sum(F.when(F.col("n_phones") > 0, 1).otherwise(0))
        .cast("long")
        .alias("docs_with_phone"),
        F.sum(F.col("n_emails") + F.col("n_phones"))
        .cast("long")
        .alias("n_spans"),
        F.round(
            F.sum(F.col("n_emails") + F.col("n_phones"))
            / (F.sum("n_toks").cast("double") / F.lit(1000.0)),
            8,
        ).alias("spans_per_1k_tokens"),
    )


# ---------------------------------------------------------------------------
# Quality-filter TRAINING (closes the apply/calibrate/train triad)
# ---------------------------------------------------------------------------

def _cramer4_strings() -> tuple[str, list[str]]:
    """Cramer's-rule expression strings for the 4x4 normal equations.

    One canonical, fully-expanded permutation sum per determinant,
    generated ONCE and evaluated verbatim by BOTH engines (DuckDB runs
    the string in the oracle; Spark runs the identical string through
    F.expr) — same parse tree, same left-associated IEEE double
    arithmetic, bitwise-identical weights."""
    from itertools import permutations

    def sign(p):
        s = 1
        for i in range(len(p)):
            for j in range(i + 1, len(p)):
                if p[i] > p[j]:
                    s = -s
        return s

    def det4(M):
        terms = []
        for p in permutations(range(4)):
            prod = "*".join(M[i][p[i]] for i in range(4))
            terms.append(("+ " if sign(p) > 0 else "- ") + prod)
        body = " ".join(terms)
        if body.startswith("+ "):
            body = body[2:]
        return "(" + body + ")"

    A = [[f"m{min(i, j)}{max(i, j)}" for j in range(4)] for i in range(4)]
    b = [f"b{i}" for i in range(4)]
    det = det4(A)
    wdets = [
        det4([[(b[i] if c == j else A[i][c]) for c in range(4)]
              for i in range(4)])
        for j in range(4)
    ]
    return det, wdets


_LR_DET, _LR_WDETS = _cramer4_strings()
_LR_W_EXPRS = [
    f"round(({_LR_WDETS[j]}) / ({_LR_DET}), 12)" for j in range(4)
]
_LR_PRED_EXPR = "round(w0 + w1*x1 + w2*x2 + w3*x3, 12)"


def _lr_train_oracle() -> str:
    from big_data_projects_spark.queries_corpus import GOPHER_STOPWORDS

    stop_sql = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    toks = r"regexp_split_to_array(trim(lower(text)), '\s+')"
    moms = ",\n           ".join(
        [
            f"round(CAST(SUM(CAST(round(x{j}*x{k}, 12) AS DECIMAL(38,14)))"
            f" AS DOUBLE), 12) AS m{j}{k}"
            for j in range(4)
            for k in range(j, 4)
        ]
        + [
            f"round(CAST(SUM(CAST(round(x{j}*y, 12) AS DECIMAL(38,14)))"
            f" AS DOUBLE), 12) AS b{j}"
            for j in range(4)
        ]
    )
    wsel = ",\n           ".join(
        f"{_LR_W_EXPRS[j]} AS w{j}" for j in range(4)
    )
    return rf"""
    WITH s AS MATERIALIZED (SELECT doc_id, {toks} AS t FROM documents),
    g AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_words,
               CAST(list_sum(list_transform(t, w -> len(w))) AS BIGINT)
                   AS total_len,
               CAST(len(list_intersect(list_distinct(t), [{stop_sql}]))
                    AS BIGINT) AS n_stop
        FROM s),
    f AS MATERIALIZED (
        SELECT doc_id,
               1.0 AS x0,
               round(least(abs(n_words - 262)/237.0, 1.0), 12) AS x1,
               round(least(abs(total_len/(n_words*1.0) - 6.5)/3.5, 2.0), 12)
                   AS x2,
               round(least(n_stop, 8)/8.0, 12) AS x3,
               CASE WHEN n_words BETWEEN 25 AND 500
                     AND total_len/CAST(n_words AS DOUBLE) BETWEEN 3 AND 10
                     AND n_stop >= 2 THEN 1.0 ELSE 0.0 END AS y
        FROM g),
    mom AS MATERIALIZED (
        SELECT {moms},
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COALESCE(SUM(CASE WHEN y = 1.0 THEN 1 END), 0) AS BIGINT)
                   AS n_pos
        FROM f),
    w AS MATERIALIZED (SELECT {wsel}, n_docs, n_pos FROM mom),
    p AS MATERIALIZED (
        SELECT f.y, {_LR_PRED_EXPR} >= 0.5 AS keep
        FROM f CROSS JOIN w),
    conf AS MATERIALIZED (
        SELECT CAST(COALESCE(SUM(CASE WHEN keep AND y = 1.0 THEN 1 END), 0)
                    AS BIGINT) AS tp,
               CAST(COALESCE(SUM(CASE WHEN keep AND y = 0.0 THEN 1 END), 0)
                    AS BIGINT) AS fp,
               CAST(COALESCE(SUM(CASE WHEN NOT keep AND y = 0.0 THEN 1 END),
                             0) AS BIGINT) AS tn,
               CAST(COALESCE(SUM(CASE WHEN NOT keep AND y = 1.0 THEN 1 END),
                             0) AS BIGINT) AS fn
        FROM p)
    SELECT w.n_docs, w.n_pos,
           round(w.w0, 8) AS w0, round(w.w1, 8) AS w1,
           round(w.w2, 8) AS w2, round(w.w3, 8) AS w3,
           conf.tp, conf.fp, conf.tn, conf.fn,
           round((conf.tp + conf.tn) / CAST(w.n_docs AS DOUBLE), 8)
               AS accuracy
    FROM w CROSS JOIN conf
    """


@register("q_quality_lr_train", oracle=_lr_train_oracle())
def q_quality_lr_train(spark, sf_dir):
    """IN-ENGINE quality-filter training — the missing third of the
    apply (q_quality_classifier) / calibrate (q_quality_calibration) /
    train triad. The user story is classifier distillation, the
    standard production move (CCNet's fastText LM filter; FineWeb-edu
    distilling LLM judgments into a linear scorer): an expensive gate —
    here the Gopher heuristic, in production an LLM judge — labels the
    corpus once, and a cheap linear model is fit to those labels so
    the NEXT 100 TB pays only a scan-stage scoring fold
    (q_quality_classifier's plan, with these trained weights swapped
    in as the broadcast weight row its docstring anticipates).

    Fit = least-squares normal equations, NOT iterative GD: with k=4
    features the Gram matrix is 10 scalars, so training is ONE
    map-side-combined aggregation over the corpus (prototyped GD
    needed 24 full corpus passes to reach 68% accuracy; the closed
    form hits 97.4% in one). The 4x4 solve runs as Cramer-rule
    expression strings generated once and evaluated verbatim by both
    engines (_cramer4_strings) — same parse tree, bitwise-identical
    doubles; moments use the repo's round-12 + DECIMAL(38,14)
    accumulation discipline. Features are window-distance transforms
    of the Gopher statistics (|n_words-262|/237, |mwl-6.5|/3.5,
    n_stop/8 capped) — the label is a window rule, so raw counts are
    NOT linearly separable but distances from the window centers are.

    At 100 TB: features are in-row expressions in the scan stage; the
    whole fit is one aggregate down to a 15-double row; scoring +
    confusion is a second scan with the weight row broadcast. Two
    corpus passes total, no window, no collect, no iteration."""
    from big_data_projects_spark.queries_corpus import GOPHER_STOPWORDS

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", T.tokens("text").alias("__t"))
    n_words = F.size("__t").cast("long")
    total_len = F.aggregate(
        F.transform(F.col("__t"), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.col("__t"), stop_arr)).cast("long")
    mwl = total_len / n_words
    feats = base.select(
        F.lit(1.0).alias("x0"),
        F.round(
            F.least(F.abs(n_words - F.lit(262)) / F.lit(237.0), F.lit(1.0)),
            12,
        ).alias("x1"),
        F.round(
            F.least(
                F.abs(total_len / (n_words * F.lit(1.0)) - F.lit(6.5))
                / F.lit(3.5),
                F.lit(2.0),
            ),
            12,
        ).alias("x2"),
        F.round(F.least(n_stop, F.lit(8)) / F.lit(8.0), 12).alias("x3"),
        F.when(
            n_words.between(25, 500) & mwl.between(3, 10) & (n_stop >= 2),
            F.lit(1.0),
        )
        .otherwise(F.lit(0.0))
        .alias("y"),
    ).persist()
    mom_aggs = [
        F.round(
            F.sum(
                F.round(F.col(f"x{j}") * F.col(f"x{k}"), 12).cast(
                    "decimal(38,14)"
                )
            ).cast("double"),
            12,
        ).alias(f"m{j}{k}")
        for j in range(4)
        for k in range(j, 4)
    ] + [
        F.round(
            F.sum(
                F.round(F.col(f"x{j}") * F.col("y"), 12).cast(
                    "decimal(38,14)"
                )
            ).cast("double"),
            12,
        ).alias(f"b{j}")
        for j in range(4)
    ]
    mom = feats.agg(
        *mom_aggs,
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.when(F.col("y") == 1.0, 1)), F.lit(0))
        .cast("long")
        .alias("n_pos"),
    )
    w = mom.select(
        *[F.expr(_LR_W_EXPRS[j]).alias(f"w{j}") for j in range(4)],
        "n_docs",
        "n_pos",
    )
    p = feats.crossJoin(F.broadcast(w)).select(
        "y", (F.expr(_LR_PRED_EXPR) >= 0.5).alias("keep")
    )
    conf = p.agg(
        F.coalesce(F.sum(F.when(F.col("keep") & (F.col("y") == 1.0), 1)), F.lit(0))
        .cast("long")
        .alias("tp"),
        F.coalesce(F.sum(F.when(F.col("keep") & (F.col("y") == 0.0), 1)), F.lit(0))
        .cast("long")
        .alias("fp"),
        F.coalesce(
            F.sum(F.when(~F.col("keep") & (F.col("y") == 0.0), 1)), F.lit(0)
        )
        .cast("long")
        .alias("tn"),
        F.coalesce(
            F.sum(F.when(~F.col("keep") & (F.col("y") == 1.0), 1)), F.lit(0)
        )
        .cast("long")
        .alias("fn"),
    )
    return (
        w.crossJoin(F.broadcast(conf)).select(
            "n_docs",
            "n_pos",
            F.round("w0", 8).alias("w0"),
            F.round("w1", 8).alias("w1"),
            F.round("w2", 8).alias("w2"),
            F.round("w3", 8).alias("w3"),
            "tp",
            "fp",
            "tn",
            "fn",
            F.round(
                (F.col("tp") + F.col("tn")) / F.col("n_docs").cast("double"),
                8,
            ).alias("accuracy"),
        )
    )


def _filter_ablation_oracle() -> str:
    from big_data_projects_spark.queries_corpus import GOPHER_STOPWORDS

    stop_sql = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    toks = r"regexp_split_to_array(trim(lower(text)), '\s+')"
    return rf"""
    WITH s AS MATERIALIZED (
        SELECT doc_id, {toks} AS t, text FROM documents
    ),
    flags AS MATERIALIZED (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_toks,
               (CAST(len(t) AS BIGINT) BETWEEN 25 AND 500
                AND list_sum(list_transform(t, w -> len(w)))
                    / CAST(len(t) AS DOUBLE) BETWEEN 3 AND 10
                AND CAST(len(list_intersect(list_distinct(t), [{stop_sql}]))
                         AS BIGINT) >= 2) AS gopher_keep,
               CAST(list_sum(list_transform(t,
                   tk -> (CAST(('0x' || substr(md5(tk), 1, 6)) AS BIGINT)
                          % 512) * 2654435761 % 1000003 - 500001))
                    AS BIGINT) > 0 AS clf_keep
        FROM s
    ),
    pii AS MATERIALIZED (
        SELECT doc_id,
               (len(regexp_extract_all(raw,
                    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}'))
                + len(regexp_extract_all(raw, '\+?\d[\d-]{{7,}}\d'))) = 0
                   AS pii_keep
        FROM (
            SELECT doc_id,
                   text
                   || CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) % 5 = 0
                           THEN ' contact user' || CAST(doc_id AS VARCHAR)
                                || '@mail.example.com'
                           ELSE '' END
                   || CASE WHEN CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                                 AS BIGINT) % 7 = 0
                           THEN ' call +1-555-'
                                || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                           ELSE '' END AS raw
            FROM documents
        )
    ),
    ch AS (
        SELECT doc_id, unnest(regexp_split_to_array(text, '')) AS c
        FROM documents
    ),
    k AS (
        SELECT doc_id, c, COUNT(*) AS k FROM ch WHERE c <> '' GROUP BY 1, 2
    ),
    ent AS MATERIALIZED (
        SELECT doc_id,
               (ln(CAST(SUM(k) AS BIGINT))
                - CAST(SUM(CAST(round(k * ln(k), 10) AS DECIMAL(38, 14)))
                       AS DOUBLE) / CAST(SUM(k) AS BIGINT)) >= 2.0
                   AS entropy_keep
        FROM k GROUP BY doc_id
    ),
    combo AS MATERIALIZED (
        SELECT f.gopher_keep, f.clf_keep, e.entropy_keep, p.pii_keep,
               f.n_toks
        FROM flags f JOIN ent e USING (doc_id) JOIN pii p USING (doc_id)
    ),
    cnt AS MATERIALIZED (
        SELECT gopher_keep, clf_keep, entropy_keep, pii_keep,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM combo GROUP BY 1, 2, 3, 4
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT gopher_keep, clf_keep, entropy_keep, pii_keep, n_docs, n_tokens,
           round(n_docs / CAST(tot.n AS DOUBLE), 8) AS docs_share
    FROM cnt CROSS JOIN tot
    """


@register("q_filter_ablation", oracle=_filter_ablation_oracle())
def q_filter_ablation(spark, sf_dir):
    """Filter-funnel attribution with overlaps — the upset-plot view
    of the curation stack: for every combination of the four
    independent keep-gates (Gopher window rule, hashed linear
    classifier, character-entropy floor, PII cleanliness on the
    measured-prevalence view), the document count and token mass in
    that cell. This is the audit a pipeline owner reads BEFORE tuning:
    a gate whose unique-fail cell is empty is redundant (drop it and
    save a pass); a gate that uniquely removes half the crawl is where
    threshold work pays; joint-fail mass shows the gates agree and the
    funnel ordering is free. The per-gate marginal totals are row sums
    of this table — the combination cells are the information the
    per-gate views (q_gopher_rules, q_quality_classifier,
    q_char_entropy, q_pii_prevalence) cannot express.

    Every gate expression is the already-hash-matched idiom from its
    owning query, restated verbatim. The entropy gate needs the one
    doc-keyed aggregate (char counts map-side-combine to ≤|alphabet|
    rows per doc); everything else is in-row. One doc-keyed join of
    the two per-doc relations, one 16-cell aggregate — at 100 TB this
    is two scans, one doc-keyed shuffle, one tiny rollup."""
    from big_data_projects_spark.queries_corpus import (
        EMAIL_RE,
        GOPHER_STOPWORDS,
        PHONE_RE,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", "text", T.tokens("text").alias("__t"))
    n_words = F.size("__t").cast("long")
    total_len = F.aggregate(
        F.transform(F.col("__t"), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.col("__t"), stop_arr)).cast("long")
    mwl = total_len / n_words
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    )
    raw = F.concat(
        F.col("text"),
        F.when(
            h % 5 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@mail.example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            h % 7 == 0,
            F.concat(
                F.lit(" call +1-555-"),
                F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    flags = base.select(
        "doc_id",
        n_words.alias("n_toks"),
        (
            n_words.between(25, 500) & mwl.between(3, 10) & (n_stop >= 2)
        ).alias("gopher_keep"),
        (T.hashed_linear_score(F.col("text")) > 0).alias("clf_keep"),
        (
            (
                F.regexp_count(raw, F.lit(EMAIL_RE))
                + F.regexp_count(raw, F.lit(PHONE_RE))
            )
            == 0
        ).alias("pii_keep"),
    )
    ch = docs.select("doc_id", F.explode(F.split("text", "")).alias("c"))
    k = (
        ch.filter(F.col("c") != "")
        .groupBy("doc_id", "c")
        .agg(F.count(F.lit(1)).alias("k"))
    )
    ent = k.groupBy("doc_id").agg(
        (
            F.log(F.sum("k"))
            - F.sum(
                F.round(F.col("k") * F.log("k"), 10).cast("decimal(38,14)")
            ).cast("double")
            / F.sum("k")
            >= 2.0
        ).alias("entropy_keep")
    )
    combo = flags.join(ent, "doc_id")
    cnt = combo.groupBy(
        "gopher_keep", "clf_keep", "entropy_keep", "pii_keep"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_toks").cast("long").alias("n_tokens"),
    )
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return cnt.crossJoin(F.broadcast(tot)).select(
        "gopher_keep",
        "clf_keep",
        "entropy_keep",
        "pii_keep",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_docs") / F.col("n").cast("double"), 8).alias(
            "docs_share"
        ),
    )


SURVIVOR_THRESHOLD = 0.3  # the q_lsh_quality ground-truth threshold


def _survivor_bias_oracle() -> str:
    t = SURVIVOR_THRESHOLD
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    drops AS MATERIALIZED (
        SELECT DISTINCT doc_b AS doc_id
        FROM common
        JOIN sizes sa ON sa.doc_id = doc_a
        JOIN sizes sb ON sb.doc_id = doc_b
        WHERE n_common / (sa.n_sh + sb.n_sh - n_common)
              >= CAST({t} AS DOUBLE)
    ),
    tk AS MATERIALIZED (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS nt
        FROM documents
    ),
    b AS MATERIALIZED (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_before,
               CAST(SUM(nt) AS BIGINT) AS n_tokens_before
        FROM tk GROUP BY 1
    ),
    a AS MATERIALIZED (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_after,
               CAST(SUM(nt) AS BIGINT) AS n_tokens_after
        FROM tk WHERE doc_id NOT IN (SELECT doc_id FROM drops) GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_docs_before) AS BIGINT) AS tb FROM b
    ),
    tota AS (
        SELECT CAST(SUM(n_docs_after) AS BIGINT) AS ta FROM a
    )
    SELECT b.source,
           b.n_docs_before, b.n_tokens_before,
           CAST(COALESCE(a.n_docs_after, 0) AS BIGINT) AS n_docs_after,
           CAST(COALESCE(a.n_tokens_after, 0) AS BIGINT) AS n_tokens_after,
           round(b.n_docs_before / CAST(tot.tb AS DOUBLE), 8)
               AS share_before,
           round(COALESCE(a.n_docs_after, 0) / CAST(tota.ta AS DOUBLE), 8)
               AS share_after,
           round(COALESCE(a.n_docs_after, 0) / CAST(tota.ta AS DOUBLE)
                 - b.n_docs_before / CAST(tot.tb AS DOUBLE), 8)
               AS share_delta
    FROM b LEFT JOIN a USING (source)
    CROSS JOIN tot CROSS JOIN tota
    """


@register("q_dedup_survivor_bias", oracle=_survivor_bias_oracle())
def q_dedup_survivor_bias(spark, sf_dir):
    """Post-dedup mixture-shift audit — dedup is NOT distribution-
    neutral: boilerplate-heavy sources lose disproportionally, so the
    domain mix tuned BEFORE dedup (q_domain_mix/q_upsample_mix) is not
    the mix the model trains on. Per source: doc/token mass before and
    after near-dup removal, corpus share before/after, and the share
    delta — the number a pipeline owner checks before re-weighting
    (Dolma/RefinedWeb report exactly this table in their dedup
    ablations).

    Survivor rule = pair-drop (drop doc_b of every Jaccard ≥ 0.3 pair,
    keep the lowest-id member): the standard keep-first policy of
    streaming/MinHash dedup deployments, deliberately NOT the
    connected-components rule — it needs zero iterative passes, so the
    audit costs one anti-join beyond the established pair machinery
    (the CC-cluster view of the same corpus is q_dedup_clusters /
    q_dedup_cluster_stats; on transitive chains pair-drop keeps only
    chain minima, which this docstring states rather than hides).

    At 100 TB: the df-capped shingle equi-join produces pairs, the
    drop set is a distinct on doc ids, survivors come from one
    broadcast-able left-anti join, and the report is two source-keyed
    rollups."""
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    pairs = D.ngram_jaccard_pairs(docs, threshold=SURVIVOR_THRESHOLD)
    drops = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    tk = docs.select(
        "doc_id", "source", F.size(T.tokens("text")).cast("long").alias("nt")
    )
    survivors = tk.join(drops, "doc_id", "left_anti")
    # Both rollups are |sources| rows but feed TWO consumers each (the
    # report join and their own total); without truncation the final
    # tree carries — and re-executes — the pair/anti-join machinery
    # once per consumer (the q_graph_modularity round-9 finding;
    # measured ~3.9 → ~2.6-3.3 s at sf0.1).
    before = (
        tk.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_before"),
            F.sum("nt").cast("long").alias("n_tokens_before"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    after = (
        survivors.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_after"),
            F.sum("nt").cast("long").alias("n_tokens_after"),
        )
        .coalesce(1)
        .localCheckpoint()
    )
    tot = before.agg(
        F.sum("n_docs_before").cast("long").alias("tb")
    )
    tota = after.agg(F.sum("n_docs_after").cast("long").alias("ta"))
    return (
        before.join(after, "source", "left")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tota))
        .select(
            "source",
            "n_docs_before",
            "n_tokens_before",
            F.coalesce(F.col("n_docs_after"), F.lit(0))
            .cast("long")
            .alias("n_docs_after"),
            F.coalesce(F.col("n_tokens_after"), F.lit(0))
            .cast("long")
            .alias("n_tokens_after"),
            F.round(
                F.col("n_docs_before") / F.col("tb").cast("double"), 8
            ).alias("share_before"),
            F.round(
                F.coalesce(F.col("n_docs_after"), F.lit(0))
                / F.col("ta").cast("double"),
                8,
            ).alias("share_after"),
            F.round(
                F.coalesce(F.col("n_docs_after"), F.lit(0))
                / F.col("ta").cast("double")
                - F.col("n_docs_before") / F.col("tb").cast("double"),
                8,
            ).alias("share_delta"),
        )
    )


def _split_case_sql(expr: str) -> str:
    """DuckDB split-of-id expression — the exact q_hash_split rule
    (md5-prefix mod 10 -> 80/10/10) applied to an arbitrary id
    expression."""
    b = (f"CAST(('0x' || substr(md5(CAST({expr} AS VARCHAR)), 1, 8)) "
         "AS BIGINT) % 10")
    return (f"CASE WHEN {b} < 8 THEN 'train' "
            f"WHEN {b} = 8 THEN 'val' ELSE 'test' END")


def _split_leakage_oracle() -> str:
    sa, sb = _split_case_sql("e.doc_a"), _split_case_sql("e.doc_b")
    ra, rb = _split_case_sql("ra.rep"), _split_case_sql("rb.rep")
    return rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh_all AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sh AS (
        SELECT doc_id, shingle FROM sh_all
        WHERE shingle NOT IN (
            SELECT shingle FROM sh_all GROUP BY shingle HAVING COUNT(*) > 1000
        )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS MATERIALIZED (
        SELECT doc_a, doc_b
        FROM common
        JOIN sizes sx ON sx.doc_id = doc_a
        JOIN sizes sy ON sy.doc_id = doc_b
        WHERE n_common / (sx.n_sh + sy.n_sh - n_common) >= 0.1
    ),
    nb AS (
        SELECT doc_a AS d, doc_b AS n FROM edges
        UNION ALL
        SELECT doc_b AS d, doc_a AS n FROM edges
    ),
    rep AS MATERIALIZED (
        SELECT d, LEAST(d, MIN(n)) AS rep FROM nb GROUP BY d
    ),
    naive AS (
        SELECT LEAST({sa}, {sb}) AS split_a,
               GREATEST({sa}, {sb}) AS split_b
        FROM edges e
    ),
    repaired AS (
        SELECT LEAST({ra}, {rb}) AS split_a,
               GREATEST({ra}, {rb}) AS split_b
        FROM edges e
        JOIN rep ra ON ra.d = e.doc_a
        JOIN rep rb ON rb.d = e.doc_b
    )
    SELECT 'doc_hash' AS rule, split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_cross
    FROM naive GROUP BY 2, 3
    UNION ALL
    SELECT 'rep_hash' AS rule, split_a, split_b,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           split_a <> split_b AS is_cross
    FROM repaired GROUP BY 2, 3
    """


@register("q_split_leakage", oracle=_split_leakage_oracle())
def q_split_leakage(spark, sf_dir):
    """Train/val/test split-integrity audit — the eval-contamination
    question q_hash_split alone can't answer: a doc-id hash split is
    reproducible but CONTENT-BLIND, so near-duplicate pairs straddle
    the train/test boundary in proportion to the split masses and
    quietly inflate held-out metrics (the canonical finding of the
    dedup literature: Lee et al., "Deduplicating Training Data Makes
    Language Models Better", ACL 2022 measure exactly this
    train-test overlap). Per unordered split pair and assignment
    rule: how many near-dup pairs (n-gram Jaccard >= 0.1 — the
    hash-matched q_dedup_clusters edge set) land with both members
    in (split_a, split_b).

    Two assignment rules, same edge set (total n_pairs equal by
    construction, pinned by unit test):
    - doc_hash: the exact q_hash_split rule on the doc's own id —
      the naive baseline whose cross mass IS the leak.
    - rep_hash: hash the doc's one-hop canonical representative
      rep(d) = min(d, min neighbor) instead, so directly-paired docs
      usually co-assign. One-hop min is deliberately NOT transitive
      closure (chains can still straddle when a pair's endpoints see
      different minima; the full-closure view of this corpus is
      q_dedup_clusters) — the audit reports the residual honestly
      rather than claiming zero.

    At 100 TB: the df-capped shingle equi-join produces the edges
    (tracked machinery); the rep table is one doubled-edge groupBy on
    doc id; each rule adds at most two keyed joins of the pair list;
    the output is <= 2 x 6 rows. No new hazard class.
    """
    from big_data_projects_spark.operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        D.ngram_jaccard_pairs(docs, threshold=0.1)
        .select("doc_a", "doc_b")
        .persist()
    )

    def split_of(col):
        bucket = (
            F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10)
            .cast("long")
            % 10
        )
        return (
            F.when(bucket < 8, "train")
            .when(bucket == 8, "val")
            .otherwise("test")
        )

    nb = pairs.select(
        F.col("doc_a").alias("d"), F.col("doc_b").alias("n")
    ).unionAll(
        pairs.select(F.col("doc_b").alias("d"), F.col("doc_a").alias("n"))
    )
    rep = (
        nb.groupBy("d")
        .agg(F.min("n").alias("mn"))
        .select("d", F.least(F.col("d"), F.col("mn")).alias("rep"))
    )

    naive = pairs.select(
        split_of(F.col("doc_a")).alias("sa"),
        split_of(F.col("doc_b")).alias("sb"),
    )
    ra = rep.select(F.col("d").alias("doc_a"), F.col("rep").alias("rep_a"))
    rb = rep.select(F.col("d").alias("doc_b"), F.col("rep").alias("rep_b"))
    repaired = (
        pairs.join(ra, "doc_a")
        .join(rb, "doc_b")
        .select(
            split_of(F.col("rep_a")).alias("sa"),
            split_of(F.col("rep_b")).alias("sb"),
        )
    )

    def grouped(df, rule):
        return (
            df.select(
                F.least("sa", "sb").alias("split_a"),
                F.greatest("sa", "sb").alias("split_b"),
            )
            .groupBy("split_a", "split_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
            .select(
                F.lit(rule).alias("rule"),
                "split_a",
                "split_b",
                "n_pairs",
                (F.col("split_a") != F.col("split_b")).alias("is_cross"),
            )
        )

    return grouped(naive, "doc_hash").unionAll(grouped(repaired, "rep_hash"))


# Control-char class (excludes \t \n \r) and the non-ASCII class —
# written once, interpreted identically by Java regex and RE2.
CTRL_RE = r"[\x01-\x08\x0B\x0C\x0E-\x1F]"
NONASCII_RE = r"[^\x00-\x7F]"


def _encoding_audit_oracle() -> str:
    h = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
         "AS BIGINT)")
    moji = "chr(226) || chr(8364) || chr(8482)"   # 'right quote' mojibake
    acc = "chr(195) || chr(169)"                  # 'e-acute' mojibake
    return rf"""
    WITH d AS (
        SELECT source,
               text
               || CASE WHEN {h} % 6 = 0
                       THEN ' ' || chr(65533) || 'decode' ELSE '' END
               || CASE WHEN {h} % 8 = 3
                       THEN ' don' || {moji} || 't' ELSE '' END
               || CASE WHEN {h} % 9 = 5 THEN chr(7) ELSE '' END AS txt
        FROM documents
    ),
    f AS (
        SELECT source,
               CASE WHEN contains(txt, chr(65533)) THEN 1 ELSE 0 END AS fffd,
               CASE WHEN contains(txt, {moji})
                      OR contains(txt, {acc}) THEN 1 ELSE 0 END AS moji,
               CASE WHEN regexp_matches(txt, '[\x01-\x08\x0B\x0C\x0E-\x1F]')
                    THEN 1 ELSE 0 END AS ctrl,
               length(txt) AS nc,
               length(txt)
                 - length(regexp_replace(txt, '[^\x00-\x7F]', '', 'g'))
                 AS na
        FROM d
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(fffd) AS BIGINT) AS docs_fffd,
           CAST(SUM(moji) AS BIGINT) AS docs_mojibake,
           CAST(SUM(ctrl) AS BIGINT) AS docs_ctrl,
           round(SUM(CASE WHEN fffd + moji + ctrl > 0 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 8) AS damaged_share,
           round(1000.0 * SUM(na) / CAST(SUM(nc) AS DOUBLE), 8)
               AS nonascii_per_1k
    FROM f GROUP BY 1
    """


@register("q_encoding_audit", oracle=_encoding_audit_oracle())
def q_encoding_audit(spark, sf_dir):
    """Encoding / unicode-health audit — the ftfy/NFC-style check a
    pipeline runs BEFORE tokenizer training: per source, how many
    documents carry replacement characters (U+FFFD — a lossy decode
    already happened), classic UTF-8-read-as-CP1252 mojibake
    sequences, or stray C0 control characters, plus the non-ASCII
    density per 1k chars (the cheap script-mix / binary-leak signal).
    The text family measures entropy, repetition, Zipf shape and
    language, but nothing about BYTES-level damage — the defect class
    that silently poisons BPE merges with garbage tokens.

    Damage is injected into deterministic md5-selected subsets
    (1-in-6 docs gain a U+FFFD, 1-in-8 a mojibake quote, 1-in-9 a BEL
    control char — the q_pii_prevalence pattern), so prevalence is a
    measured quantity on this clean synthetic corpus; the detectors
    are deliberately broader than the injection (the e-acute mojibake
    marker is checked too, and fires zero here).

    At 100 TB: per-row codegen string predicates (contains + two
    regexes, no UDF), one source-keyed map-side-combined aggregate —
    the q_dataset_report shape; output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    )
    moji = "don\u00e2\u20ac\u2122t"  # noqa: the CP1252 mojibake of a right quote
    txt = F.concat(
        F.col("text"),
        F.when(h % 6 == 0, F.lit(" \ufffddecode")).otherwise(F.lit("")),
        F.when(h % 8 == 3, F.lit(" " + moji)).otherwise(F.lit("")),
        F.when(h % 9 == 5, F.lit("\x07")).otherwise(F.lit("")),
    )
    per_doc = docs.select(
        "source",
        F.when(txt.contains("\ufffd"), 1).otherwise(0).alias("fffd"),
        F.when(
            txt.contains("\u00e2\u20ac\u2122")
            | txt.contains("\u00c3\u00a9"),
            1,
        ).otherwise(0).alias("moji"),
        F.when(txt.rlike(CTRL_RE), 1).otherwise(0).alias("ctrl"),
        F.length(txt).cast("long").alias("nc"),
        (
            F.length(txt)
            - F.length(F.regexp_replace(txt, NONASCII_RE, ""))
        ).cast("long").alias("na"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("fffd").cast("long").alias("docs_fffd"),
        F.sum("moji").cast("long").alias("docs_mojibake"),
        F.sum("ctrl").cast("long").alias("docs_ctrl"),
        F.round(
            F.sum(
                F.when(
                    F.col("fffd") + F.col("moji") + F.col("ctrl") > 0, 1
                ).otherwise(0)
            )
            / F.count(F.lit(1)).cast("double"),
            8,
        ).alias("damaged_share"),
        F.round(
            F.lit(1000.0) * F.sum("na") / F.sum("nc").cast("double"), 8
        ).alias("nonascii_per_1k"),
    )


# Tokens per synthetic turn and the context budget (in turns) used by
# the SFT audit — written once, shared by the Spark builder and stated
# as the same literals in the oracle.
SFT_TURN_TOKENS = 12
SFT_CTX_TOKENS = 96  # 8 turns x 12 tokens


def _sft_turn_audit_oracle() -> str:
    h = ("CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) "
         "AS BIGINT)")
    return rf"""
    WITH d AS (
        SELECT source,
               {h} AS h,
               regexp_split_to_array(trim(lower(text)), '\s+') AS toks
        FROM documents
    ),
    c AS (
        SELECT source, h, toks,
               len(toks) AS n_toks,
               CAST(floor((len(toks) + {SFT_TURN_TOKENS} - 1)
                          / {SFT_TURN_TOKENS}) AS BIGINT) AS n_turns
        FROM d
    ),
    conv AS (
        SELECT source, n_toks, n_turns,
               list_transform(range(0, CAST(n_turns AS INTEGER)),
                   i -> CASE WHEN h % 7 = 2 AND i = 1 THEN 'user'
                             WHEN i % 2 = 0 THEN 'user'
                             ELSE 'assistant' END) AS roles,
               list_transform(range(0, CAST(n_turns AS INTEGER)),
                   i -> CASE WHEN h % 9 = 4 AND i = n_turns - 1 THEN ''
                        ELSE array_to_string(
                            list_slice(toks, i * {SFT_TURN_TOKENS} + 1,
                                       (i + 1) * {SFT_TURN_TOKENS}),
                            ' ') END) AS contents
        FROM c
    ),
    a AS (
        SELECT source, n_toks, n_turns,
               CASE WHEN n_turns >= 2 AND coalesce(list_contains(
                        list_transform(range(2,
                            CAST(n_turns AS INTEGER) + 1),
                            i -> roles[i] = roles[i - 1]), true), false)
                    THEN 1 ELSE 0 END AS role_viol,
               CASE WHEN coalesce(list_contains(
                        list_transform(contents, x -> x = ''), true),
                        false)
                    THEN 1 ELSE 0 END AS empty_turn,
               CASE WHEN roles[CAST(n_turns AS INTEGER)] = 'user'
                    THEN 1 ELSE 0 END AS ends_user,
               CASE WHEN n_toks > {SFT_CTX_TOKENS} THEN 1 ELSE 0 END
                   AS over_budget
        FROM conv
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_convs,
           round(SUM(n_turns) / CAST(COUNT(*) AS DOUBLE), 8) AS avg_turns,
           round(SUM(role_viol) / CAST(COUNT(*) AS DOUBLE), 8)
               AS share_role_violation,
           round(SUM(empty_turn) / CAST(COUNT(*) AS DOUBLE), 8)
               AS share_empty_turn,
           round(SUM(ends_user) / CAST(COUNT(*) AS DOUBLE), 8)
               AS share_ends_user,
           round(SUM(over_budget) / CAST(COUNT(*) AS DOUBLE), 8)
               AS share_over_budget,
           round(SUM(n_toks) / CAST(SUM(n_turns) AS DOUBLE), 8)
               AS avg_tokens_per_turn
    FROM a GROUP BY 1
    """


@register("q_sft_turn_audit", oracle=_sft_turn_audit_oracle())
def q_sft_turn_audit(spark, sf_dir):
    """Post-training (SFT/chat) conversation-format QA — the schema
    audit a pipeline runs over chat-structured data before template
    expansion and fine-tuning, a data category nothing else in the
    engine touches: per source, role-alternation violations (two
    adjacent same-role turns break every chat template), empty/
    truncated turns, conversations ending on a user turn (no target
    for the loss), context-budget overflow, and the turn-count /
    tokens-per-turn shape.

    The corpus is plain text, so conversations are MATERIALIZED
    deterministically (every 12 whitespace tokens = one turn, roles
    alternating user/assistant) and defects are injected into
    md5-selected subsets (1-in-7 convs get a same-role adjacent pair,
    1-in-9 an empty final turn — the q_pii_prevalence pattern); the
    audit then PARSES the materialized role/content arrays (exists /
    element_at over the built arrays, never the injection arithmetic),
    so the detectors are real and transfer verbatim to genuinely
    chat-formatted inputs.

    At 100 TB: everything per-row — split + two higher-order
    transforms + exists, all JVM-side expressions (no UDF, no
    explode: turn arrays never leave the row) — then ONE source-keyed
    map-side-combined aggregate; output is |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    )
    toks = T.tokens("text")
    n_toks = F.size(toks).cast("long")
    n_turns = F.floor(
        (n_toks + F.lit(SFT_TURN_TOKENS - 1)) / F.lit(SFT_TURN_TOKENS)
    ).cast("long")

    base = docs.select(
        "source",
        h.alias("h"),
        toks.alias("toks"),
        n_toks.alias("n_toks"),
        n_turns.alias("n_turns"),
    )
    # n_turns == 0 (empty/NULL text) must yield EMPTY turn arrays: a bare
    # sequence(0, -1) descends to [0, -1] and the downstream
    # element_at(roles, 0) would throw, where the DuckDB oracle's
    # out-of-range list index returns NULL (ADVICE r6).
    idx = F.when(
        F.col("n_turns") >= 1,
        F.sequence(F.lit(0), (F.col("n_turns") - 1).cast("int")),
    ).otherwise(F.array().cast("array<int>"))
    conv = base.select(
        "source",
        "n_toks",
        "n_turns",
        F.transform(
            idx,
            lambda i: F.when(
                (F.col("h") % 7 == 2) & (i == 1), F.lit("user")
            )
            .when(i % 2 == 0, F.lit("user"))
            .otherwise(F.lit("assistant")),
        ).alias("roles"),
        F.transform(
            idx,
            lambda i: F.when(
                (F.col("h") % 9 == 4) & (i == F.col("n_turns") - 1),
                F.lit(""),
            ).otherwise(
                F.array_join(
                    F.slice(
                        F.col("toks"),
                        i * SFT_TURN_TOKENS + F.lit(1),
                        F.lit(SFT_TURN_TOKENS),
                    ),
                    " ",
                )
            ),
        ).alias("contents"),
    )
    audited = conv.select(
        "source",
        "n_toks",
        "n_turns",
        F.when(
            (F.col("n_turns") >= 2)
            & F.exists(
                F.sequence(F.lit(2), F.col("n_turns").cast("int")),
                lambda i: F.element_at(F.col("roles"), i)
                == F.element_at(F.col("roles"), i - 1),
            ),
            1,
        )
        .otherwise(0)
        .alias("role_viol"),
        F.when(
            F.exists(F.col("contents"), lambda x: x == F.lit("")), 1
        )
        .otherwise(0)
        .alias("empty_turn"),
        F.when(
            (F.col("n_turns") >= 1)
            & (
                F.element_at(F.col("roles"), F.col("n_turns").cast("int"))
                == F.lit("user")
            ),
            1,
        )
        .otherwise(0)
        .alias("ends_user"),
        F.when(F.col("n_toks") > SFT_CTX_TOKENS, 1)
        .otherwise(0)
        .alias("over_budget"),
    )
    cnt = F.count(F.lit(1)).cast("double")
    return audited.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_convs"),
        F.round(F.sum("n_turns") / cnt, 8).alias("avg_turns"),
        F.round(F.sum("role_viol") / cnt, 8).alias("share_role_violation"),
        F.round(F.sum("empty_turn") / cnt, 8).alias("share_empty_turn"),
        F.round(F.sum("ends_user") / cnt, 8).alias("share_ends_user"),
        F.round(F.sum("over_budget") / cnt, 8).alias("share_over_budget"),
        F.round(
            F.sum("n_toks") / F.sum("n_turns").cast("double"), 8
        ).alias("avg_tokens_per_turn"),
    )


def _vocab_growth_oracle() -> str:
    return r"""
    WITH tok AS (
        SELECT source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                   AS term
        FROM documents
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    ranks AS (
        SELECT a.source, CAST(COUNT(*) AS BIGINT) AS src_rank
        FROM srcs a JOIN srcs b ON b.source <= a.source
        GROUP BY 1
    ),
    tokcnt AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens
        FROM tok GROUP BY 1
    ),
    st AS (SELECT DISTINCT source, term FROM tok),
    first AS (
        SELECT term, MIN(src_rank) AS first_rank
        FROM st JOIN ranks USING (source) GROUP BY 1
    ),
    nt AS (
        SELECT first_rank, CAST(COUNT(*) AS BIGINT) AS new_types
        FROM first GROUP BY 1
    ),
    base AS (
        SELECT r.source, r.src_rank, t.n_tokens,
               coalesce(nt.new_types, 0) AS new_types
        FROM ranks r
        JOIN tokcnt t USING (source)
        LEFT JOIN nt ON nt.first_rank = r.src_rank
    )
    SELECT a.source,
           a.src_rank,
           a.n_tokens,
           a.new_types,
           CAST(SUM(b.new_types) AS BIGINT) AS cum_types,
           CAST(SUM(b.n_tokens) AS BIGINT) AS cum_tokens,
           round(a.new_types / (a.n_tokens / 1000.0), 8)
               AS novelty_per_1k_tokens
    FROM base a JOIN base b ON b.src_rank <= a.src_rank
    GROUP BY a.source, a.src_rank, a.n_tokens, a.new_types
    """


@register("q_vocab_growth", oracle=_vocab_growth_oracle())
def q_vocab_growth(spark, sf_dir):
    """Vocabulary-growth / marginal-data-value curve (the Heaps-law
    view): with sources taken in a deterministic acquisition order
    (lexicographic by name), how many NEW whitespace-token types each
    source contributes beyond everything acquired before it, plus
    cumulative type/token masses and per-source novelty density — the
    decision view for "is more of this data worth crawling/buying, or
    is it saturated?" that none of the corpus diagnostics (Zipf shape,
    entropy rate, bigram novelty) state: those measure one corpus,
    this measures the MARGINAL contribution of each increment.

    At 100 TB: one distinct over (source, term) — a map-side-combined
    hash shuffle over token occurrences, the q_vocab_build volume —
    then every remaining relation is TYPE-table sized (one term-keyed
    min aggregate) or control-plane sized (|sources| rows: rank
    assignment and the cumulative sums are inequality self-joins over
    the tiny broadcast source dim — no global-sort window anywhere,
    and the oracle mirrors the same join-based cumsum so both engines
    state identical arithmetic)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(T.tokens("text")).alias("term")
    )
    srcs = docs.select("source").distinct()
    ranks = (
        srcs.alias("a")
        .join(
            F.broadcast(srcs.alias("b")),
            F.col("b.source") <= F.col("a.source"),
        )
        .groupBy(F.col("a.source").alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("src_rank"))
    )
    tokcnt = tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens")
    )
    st = tok.select("source", "term").distinct()
    first = (
        st.join(F.broadcast(ranks), "source")
        .groupBy("term")
        .agg(F.min("src_rank").alias("first_rank"))
    )
    nt = first.groupBy("first_rank").agg(
        F.count(F.lit(1)).cast("long").alias("new_types")
    )
    # |sources| rows, but its lineage holds the corpus-scale token
    # machinery — persist so the cumsum self-join below reads the
    # control-plane relation twice instead of re-running the corpus
    # distinct twice (registry clearCache handles the lifecycle).
    base = (
        ranks.join(tokcnt, "source")
        .join(
            F.broadcast(nt),
            ranks["src_rank"] == nt["first_rank"],
            "left",
        )
        .select(
            "source",
            "src_rank",
            "n_tokens",
            F.coalesce(F.col("new_types"), F.lit(0).cast("long")).alias(
                "new_types"
            ),
        )
        .persist()
    )
    a, b = base.alias("a"), base.alias("b")
    return (
        a.join(
            F.broadcast(b), F.col("b.src_rank") <= F.col("a.src_rank")
        )
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.src_rank").alias("src_rank"),
            F.col("a.n_tokens").alias("n_tokens"),
            F.col("a.new_types").alias("new_types"),
        )
        .agg(
            F.sum(F.col("b.new_types")).cast("long").alias("cum_types"),
            F.sum(F.col("b.n_tokens")).cast("long").alias("cum_tokens"),
        )
        .select(
            "source",
            "src_rank",
            "n_tokens",
            "new_types",
            "cum_types",
            "cum_tokens",
            F.round(
                F.col("new_types")
                / (F.col("n_tokens") / F.lit(1000.0)),
                8,
            ).alias("novelty_per_1k_tokens"),
        )
    )


CS_WINDOW_TOKENS = 16
# Pure-German marker block (20 tokens, zero en/fr/es/zh marker hits)
# appended to md5-selected docs — the q_pii_prevalence injection
# pattern: prevalence becomes a measured quantity over materialized
# text, and the detector parses that text, never the injection rule.
CS_DE_SUFFIX = " ".join(["und der die das ist"] * 4)


def _code_switch_oracle() -> str:
    w = CS_WINDOW_TOKENS
    return rf"""
    WITH base AS (
        SELECT doc_id, source,
               CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                         AS BIGINT) % 6 = 2
                    THEN text || ' {CS_DE_SUFFIX}'
                    ELSE text END AS txt
        FROM documents
    ),
    t AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(txt)), '\s+') AS tk
        FROM base
    ),
    wl AS (
        SELECT doc_id, source,
               CAST(ceil(len(tk) / {w}.0) AS BIGINT) AS n_win, tk
        FROM t
    ),
    win AS (
        SELECT doc_id, i,
               array_to_string(list_slice(tk, (i - 1) * {w} + 1, i * {w}), ' ')
                 AS wtxt
        FROM wl, UNNEST(generate_series(1, n_win)) AS u(i)
    ),
    sc AS (
        SELECT doc_id, i,
            len(regexp_extract_all(wtxt, '\b(the|a|is|and|of)\b')) AS en,
            len(regexp_extract_all(wtxt, '\b(der|die|das|und|ist)\b')) AS de,
            len(regexp_extract_all(wtxt, '\b(le|la|les|et|est)\b')) AS fr,
            len(regexp_extract_all(wtxt, '\b(el|los|las|y|es)\b')) AS es,
            len(regexp_extract_all(wtxt, '[\x{{4e00}}-\x{{9fff}}]')) AS zh
        FROM win
    ),
    pl AS (
        SELECT doc_id, i,
            CASE WHEN en=0 AND de=0 AND fr=0 AND es=0 AND zh=0 THEN 'unknown'
                 WHEN en>=de AND en>=fr AND en>=es AND en>=zh THEN 'en'
                 WHEN de>=fr AND de>=es AND de>=zh THEN 'de'
                 WHEN fr>=es AND fr>=zh THEN 'fr'
                 WHEN es>=zh THEN 'es'
                 ELSE 'zh' END AS wlang
        FROM sc
    ),
    adj AS (
        SELECT doc_id, wlang,
               lag(wlang) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM pl
    ),
    per_doc AS (
        SELECT p.doc_id,
               COUNT(DISTINCT p.wlang)
                 FILTER (p.wlang != 'unknown') AS n_known_langs,
               (SELECT COUNT(*) FROM adj a
                WHERE a.doc_id = p.doc_id AND a.prev IS NOT NULL
                  AND a.wlang != a.prev
                  AND a.wlang != 'unknown' AND a.prev != 'unknown')
                 AS n_switches
        FROM pl p GROUP BY 1
    ),
    docs AS (
        SELECT wl.source, wl.n_win,
               COALESCE(pd.n_known_langs, 0) AS n_known_langs,
               COALESCE(pd.n_switches, 0) AS n_switches
        FROM wl LEFT JOIN per_doc pd USING (doc_id)
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_known_langs >= 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_multilang,
           round(SUM(CASE WHEN n_known_langs >= 2 THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 8) AS share_multilang,
           CAST(SUM(CASE WHEN n_switches >= 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS docs_switched,
           round(SUM(n_switches) / CAST(COUNT(*) AS DOUBLE), 8)
             AS avg_switches,
           round(SUM(COALESCE(n_win, 0)) / CAST(COUNT(*) AS DOUBLE), 8)
             AS avg_windows
    FROM docs
    GROUP BY source
    """


@register("q_code_switch_audit", oracle=_code_switch_oracle())
def q_code_switch_audit(spark, sf_dir):
    """Intra-document code-switching (language-mix) audit — the
    multilingual-curation gate doc-level lang-id cannot provide: a
    document that flips language mid-text gets ONE label from
    q_lang_id, but mixed-language documents poison monolingual
    training sets and per-language corpus accounting (CCNet-style
    pipelines split and filter at paragraph granularity for exactly
    this reason).  Per source: documents whose fixed-size token
    windows resolve to >= 2 distinct known languages, adjacent
    known-language switch counts, and window mass.

    The corpus's synthetic text is monolingual-ish, so mixing is
    MATERIALIZED deterministically (md5-selected 1-in-6 docs get a
    20-token pure-German marker block appended — the
    q_pii_prevalence / q_sft_turn_audit injection pattern); the
    detector then parses the materialized text only: per-window
    marker-argmax lang-id (the hash-matched q_lang_id expression,
    applied per window), array-level distinct/adjacent analysis.

    At 100 TB: everything per-row — tokenization, window slicing, and
    per-window lang-id run inside higher-order transforms (token and
    window arrays never leave the row, no explode), then ONE
    source-keyed map-side-combined aggregate; output is |sources|
    rows.  Window scoring costs ~5 regex passes over corpus bytes —
    proportional to scan cost by construction."""
    docs = load_table(spark, sf_dir, "documents")
    w = CS_WINDOW_TOKENS
    h = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
    )
    txt = F.when(
        h % 6 == 2, F.concat(F.col("text"), F.lit(" " + CS_DE_SUFFIX))
    ).otherwise(F.col("text"))
    toks = T.tokens(txt)
    n_win = F.ceil(F.size(toks) / F.lit(float(w))).cast("long")
    # n_win == 0/NULL must yield EMPTY window arrays (the
    # q_sft_turn_audit guard: a bare sequence would descend).
    idx = F.when(
        n_win >= 1, F.sequence(F.lit(1), n_win.cast("int"))
    ).otherwise(F.array().cast("array<int>"))
    # The per-window lang-id transform costs ~5 regex passes over every
    # document's bytes — all in the scan stage, single-threaded on a
    # one-row-group testdata scan; spread the raw rows across cores
    # first (no-op at real scale — see spread_small_scan; r12).
    from big_data_projects_spark.data import spread_small_scan

    base = spread_small_scan(docs.select("source", "doc_id", "text")).select(
        "source",
        n_win.alias("n_win"),
        F.transform(
            idx,
            lambda i: T.predict_lang(
                F.array_join(
                    F.slice(toks, (i - 1) * w + F.lit(1), F.lit(w)), " "
                )
            ),
        ).alias("langs"),
    )
    known = F.filter(F.col("langs"), lambda x: x != F.lit("unknown"))
    n_langs = F.size(F.array_distinct(known))
    switches = F.when(
        F.size(F.col("langs")) >= 2,
        F.size(
            F.filter(
                F.sequence(F.lit(2), F.size(F.col("langs"))),
                lambda i: (
                    (F.element_at(F.col("langs"), i)
                     != F.element_at(F.col("langs"), i - 1))
                    & (F.element_at(F.col("langs"), i) != F.lit("unknown"))
                    & (F.element_at(F.col("langs"), i - 1)
                       != F.lit("unknown"))
                ),
            )
        ),
    ).otherwise(F.lit(0))
    per_doc = base.select(
        "source",
        F.coalesce(F.col("n_win"), F.lit(0)).alias("n_win"),
        n_langs.alias("n_known_langs"),
        switches.cast("long").alias("n_switches"),
    )
    cnt = F.count(F.lit(1)).cast("double")
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum((F.col("n_known_langs") >= 2).cast("long"))
        .cast("long")
        .alias("docs_multilang"),
        F.round(
            F.sum((F.col("n_known_langs") >= 2).cast("long")) / cnt, 8
        ).alias("share_multilang"),
        F.sum((F.col("n_switches") >= 1).cast("long"))
        .cast("long")
        .alias("docs_switched"),
        F.round(F.sum("n_switches") / cnt, 8).alias("avg_switches"),
        F.round(F.sum("n_win") / cnt, 8).alias("avg_windows"),
    )
