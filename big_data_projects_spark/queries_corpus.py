"""Corpus-preparation operators a large-scale training-data pipeline
needs beyond dedup/similarity: fixed-budget chunking, benchmark-
contamination detection, PII redaction, and stratified hash sampling.

Like queries_llm.py these are additive (no reference citation — the
reference at Song-Analytics-with-Spark/transform-data.py has no text
surface at all); each is built-ins-only in the hot path and carries a
DuckDB oracle twin.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table
from big_data_projects_spark.operators import dedup as D
from big_data_projects_spark.operators import text as T
from big_data_projects_spark.registry import register


CHUNK = 32  # tokens per training chunk


@register(
    "q_doc_chunking",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    )
    SELECT doc_id, CAST(i AS INT) AS chunk_id,
           array_to_string(t[(i*{CHUNK}+1):(i*{CHUNK}+{CHUNK})], ' ') AS chunk_text,
           CAST(least({CHUNK}, len(t) - i*{CHUNK}) AS INT) AS n_chunk_tokens
    FROM toks,
         UNNEST(generate_series(0, CAST(ceil(len(t)/{CHUNK}.0) AS BIGINT) - 1)) AS u(i)
    """,
)
def q_doc_chunking(spark, sf_dir):
    """Sequence chunking for LLM training: split each document's token
    stream into fixed token-budget chunks (CHUNK tokens, last chunk
    ragged). sequence+explode generates chunk indices without exploding
    per-token — rows out = sum(ceil(len/CHUNK)), not sum(len) — and
    slice/array_join stay in codegen. Per-row independent → embarrass-
    ingly parallel at 100 TB, no shuffle at all."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = F.ceil(F.size("t") / F.lit(float(CHUNK))).cast("int")
    start = F.col("chunk_id") * CHUNK + 1
    return (
        docs.select("doc_id", T.tokens("text").alias("t"))
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
        )
        .select(
            "doc_id",
            F.col("chunk_id").cast("int").alias("chunk_id"),
            F.array_join(F.slice("t", start, CHUNK), " ").alias("chunk_text"),
            F.least(F.lit(CHUNK), F.size("t") - F.col("chunk_id") * CHUNK)
            .cast("int")
            .alias("n_chunk_tokens"),
        )
    )


_SHINGLE_SQL = r"""
    toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    )
"""


@register(
    "q_contamination",
    oracle=f"""
    WITH {_SHINGLE_SQL},
    eval_sh AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
    train AS (SELECT * FROM sh WHERE doc_id % 10 != 0),
    sizes AS (SELECT doc_id, COUNT(*) AS n_shingles FROM train GROUP BY doc_id),
    hits AS (
        SELECT t.doc_id, COUNT(*) AS n_contaminated
        FROM train t JOIN eval_sh e ON t.shingle = e.shingle
        GROUP BY t.doc_id
    )
    SELECT s.doc_id, s.n_shingles,
           COALESCE(h.n_contaminated, 0) AS n_contaminated,
           COALESCE(h.n_contaminated, 0) / s.n_shingles AS contamination_ratio,
           COALESCE(h.n_contaminated, 0) / s.n_shingles >= 0.5 AS is_contaminated
    FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
    """,
)
def q_contamination(spark, sf_dir):
    """Benchmark-contamination check: fraction of each training doc's
    word-3-gram shingles that also appear in a held-out eval set
    (doc_id % 10 = 0 here; in production, the benchmark corpus).

    Scale shape: the eval shingle set is orders of magnitude smaller
    than the training corpus, so the membership probe is a broadcast-
    able LEFT join — AQE picks broadcast when it fits, shuffle-hash
    otherwise (policy: no manual hint, eval size is data-dependent).
    Total and contaminated counts come from ONE doc-keyed aggregate
    over the probed rows (count(*) vs count(hit-marker)) — the
    sizes⋈hits two-aggregate shape this replaces shuffled the train
    relation by doc_id twice and joined the results, a full extra
    train-sized exchange for the same arithmetic. The ratio is
    bigint/bigint → IEEE double, identical cross-engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    sh = D.shingles(docs, "doc_id", "text", 3).persist()
    is_eval = F.col("doc_id") % 10 == 0
    eval_sh = (
        sh.filter(is_eval)
        .select("shingle")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = sh.filter(~is_eval)
    # eval_sh is distinct on the join key, so the left join never fans
    # out: count(*) per doc is the doc's shingle count and count(__hit)
    # counts exactly the occurrences that hit the eval set.
    per_doc = (
        train.join(eval_sh, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count("__hit").alias("n_contaminated"),
        )
    )
    ratio = F.col("n_contaminated") / F.col("n_shingles")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_contaminated",
        ratio.alias("contamination_ratio"),
        (ratio >= 0.5).alias("is_contaminated"),
    )


# Portable regex subset: character classes + bounded quantifiers only —
# identical semantics in Java regex (Spark) and RE2 (DuckDB).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d[\d-]{7,}\d"


@register(
    "q_pii_redact",
    oracle=rf"""
    WITH synth AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR)
                    || '@mail.example.com or +1-555-'
                    || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || '.' AS raw
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(raw, '{EMAIL_RE}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(raw, '{PHONE_RE}')) AS BIGINT) AS n_phones,
           regexp_replace(regexp_replace(raw, '{EMAIL_RE}', '[EMAIL]', 'g'),
                          '{PHONE_RE}', '[PHONE]', 'g') AS redacted
    FROM synth
    """,
)
def q_pii_redact(spark, sf_dir):
    """PII scrubbing: count and redact email/phone spans with anchor
    tokens. The corpus is synthetic, so PII is injected determinist-
    ically per doc first (same expression on both engines), then both
    engines redact. Pure per-row regexp in codegen — no UDF, no
    shuffle; Spark regexp_replace is global-by-default, DuckDB needs
    the 'g' flag (a classic cross-engine trap, pinned here)."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit("."),
    )
    synth = docs.select("doc_id", raw.alias("raw"))
    return synth.select(
        "doc_id",
        F.regexp_count("raw", F.lit(EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("raw", F.lit(PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("raw", EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
        ).alias("redacted"),
    )


@register(
    "q_stratified_sample",
    oracle="""
    WITH b AS (
        SELECT doc_id, source, n_chars,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                    AS BIGINT) % 100 AS bucket,
               CASE WHEN source IN ('src0', 'src1') THEN 60
                    WHEN source = 'src2' THEN 0
                    ELSE 20 END AS pct
        FROM documents
    )
    SELECT doc_id, source, n_chars FROM b WHERE bucket < pct
    """,
)
def q_stratified_sample(spark, sf_dir):
    """Stratified sampling by deterministic id hash: per-source keep
    rates (60% for the two up-weighted sources, 0% for an excluded
    one, 20% elsewhere) — the domain-mixing step of corpus assembly.
    Unlike df.sample(), membership is a pure function of the id, so
    it is reproducible across runs, resharding, and engines (the
    oracle recomputes it), and composable with q_hash_split's buckets
    (same md5-prefix scheme). Row-level output so the oracle checks
    exact membership, not just rates."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    pct = (
        F.when(F.col("source").isin("src0", "src1"), 60)
        .when(F.col("source") == "src2", 0)
        .otherwise(20)
    )
    return docs.select(
        "doc_id", "source", "n_chars", bucket.alias("b"), pct.alias("p")
    ).filter(F.col("b") < F.col("p")).drop("b", "p")


BUDGET = 512  # tokens per packed context window
PACK_SHARD = 256  # docs per prefix-sum shard


@register(
    "q_sequence_packing",
    oracle=rf"""
    WITH t AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT) AS n
        FROM documents
    ),
    c AS (
        SELECT doc_id, n,
               CAST(SUM(n) OVER (ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
                    AS BIGINT) AS start
        FROM t
    )
    SELECT start // {BUDGET} AS bin_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens
    FROM c GROUP BY 1
    """,
)
def q_sequence_packing(spark, sf_dir):
    """Concat-and-pack for LLM training: documents are concatenated in
    deterministic doc_id order and every BUDGET-token window becomes
    one training sequence; each doc is assigned to the bin its start
    offset falls in. The primitive underneath is a *distributed prefix
    sum*, done in the only shape that scales:

      1. intra-shard running sums — Window partitioned by a coarse
         shard key (doc_id div PACK_SHARD), so all heavy window work is
         parallel across shards;
      2. per-shard totals (tiny aggregate, one row per shard) get a
         global running offset via a window over that aggregated
         relation — the single-partition exchange there carries
         |docs|/PACK_SHARD rows, not data-scale rows;
      3. broadcast the offsets back onto the shards.

    The oracle is the naive global cumsum — identical results, but its
    plan would be a single-partition window over ALL rows, exactly the
    anti-pattern (SURVEY.md §4) this query exists to avoid."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        F.size(T.tokens("text")).cast("long").alias("n"),
        F.expr(f"doc_id div {PACK_SHARD}").alias("shard"),
    )
    w_intra = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    intra = t.withColumn("start_in_shard", F.sum("n").over(w_intra) - F.col("n"))
    totals = t.groupBy("shard").agg(F.sum("n").alias("tot"))
    w_off = (
        Window.orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "shard", F.coalesce(F.sum("tot").over(w_off), F.lit(0)).alias("offset")
    )
    placed = intra.join(F.broadcast(offsets), "shard").withColumn(
        "start", F.col("start_in_shard") + F.col("offset")
    )
    return placed.groupBy(
        F.expr(f"start div {BUDGET}").alias("bin_id")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n").alias("n_tokens"),
    )


@register(
    "q_mode_per_group",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    r AS (
        SELECT user_id, event_type, n,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY n DESC, event_type) AS rk
        FROM c
    )
    SELECT user_id, event_type AS mode_event, n AS n_occurrences
    FROM r WHERE rk = 1
    """,
)
def q_mode_per_group(spark, sf_dir):
    """Statistical mode per group (most frequent event_type per user)
    with a deterministic lexicographic tie-break. Count-then-rank: the
    aggregate collapses data-scale rows to (user, type) pairs before
    the window ever runs, and the window partitions by user — both
    stages shuffle once on bounded-cardinality keys."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    rk = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return (
        counts.withColumn("rk", rk)
        .filter(F.col("rk") == 1)
        .select(
            "user_id",
            F.col("event_type").alias("mode_event"),
            F.col("n").alias("n_occurrences"),
        )
    )


@register(
    "q_domain_mix",
    oracle=r"""
    WITH s AS (
        SELECT source,
               CAST(SUM(len(regexp_split_to_array(trim(lower(text)), '\s+')))
                    AS BIGINT) AS n_tokens
        FROM documents GROUP BY source
    ),
    t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM s)
    SELECT source, n_tokens,
           round(n_tokens / CAST(total AS DOUBLE), 10) AS mix_weight
    FROM s CROSS JOIN t
    """,
)
def q_domain_mix(spark, sf_dir):
    """Domain-mix accounting: per-source token mass and its share of
    the corpus — the numbers that set per-domain sampling rates (see
    q_stratified_sample) when assembling a training mix. One bounded
    aggregate plus a 1-row broadcast total; the weight is an exact
    bigint ratio rounded to 10 decimals."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.select("source", F.size(T.tokens("text")).alias("nt")).groupBy(
        "source"
    ).agg(F.sum("nt").alias("n_tokens"))
    total = s.agg(F.sum("n_tokens").alias("total"))
    return s.join(F.broadcast(total)).select(
        "source",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("total").cast("double"), 10).alias(
            "mix_weight"
        ),
    )


@register(
    "q_weighted_sample",
    oracle="""
    WITH keyed AS (
        SELECT doc_id, n_chars,
               round(
                   ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
                            AS BIGINT) + 1.0) / 4503599627370496.0)
                   / n_chars,
                   12) AS lnkey
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, n_chars, lnkey
    FROM (SELECT doc_id, n_chars, lnkey,
                 row_number() OVER (ORDER BY lnkey DESC, doc_id) AS rk
          FROM keyed)
    WHERE rk <= 100
    """,
)
def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis A-ES): each doc draws a uniform u from a hash
    of its id, gets key = ln(u)/w for weight w (here n_chars — in a
    real pipeline, a quality score), and the global top-k keys are the
    sample — inclusion probability proportional to weight, no
    sequential reservoir state, so it parallelizes as a pure top-k
    (TakeOrderedAndProject, never a global sort). Determinism: u is an
    md5-derived 52-bit uniform (portable), ln washed by round-to-12
    BEFORE ranking with doc_id tie-break."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("long")
        .cast("double")
        + F.lit(1.0)
    ) / F.lit(float(1 << 52))
    keyed = docs.select(
        "doc_id",
        "n_chars",
        F.round(F.log(u) / F.col("n_chars"), 12).alias("lnkey"),
    )
    return keyed.orderBy(F.col("lnkey").desc(), "doc_id").limit(100)


@register(
    "q_quality_percentile",
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+')) AS BIGINT)
                 AS n_tokens,
               CAST(len(regexp_extract_all(lower(text), '[.,;:!?]')) AS BIGINT)
                 AS n_punct,
               CAST(len(regexp_extract_all(lower(text),
                   '\b(the|a|is|and|of|to|in|that|it|for)\b')) AS BIGINT)
                 AS n_stopwords
        FROM documents
    ),
    scored AS (
        SELECT doc_id,
               least(1.0, n_tokens / 50.0)
                 * (1.0 - n_punct / n_tokens)
                 * (0.5 + 0.5 * (n_stopwords / n_tokens)) AS quality_score
        FROM f
    )
    SELECT doc_id,
           round(quality_score, 10) AS quality_score,
           round(percent_rank() OVER (ORDER BY round(quality_score, 10), doc_id),
                 10) AS pct,
           CAST(least(9, floor(
               percent_rank() OVER (ORDER BY round(quality_score, 10), doc_id)
               * 10)) AS INT) AS decile
    FROM scored
    """,
)
def q_quality_percentile(spark, sf_dir):
    """Percentile normalization of quality scores — the calibration
    step before mixing corpora whose raw score scales differ: each
    doc's percent_rank in the corpus plus its decile bucket (the
    mixture knob: e.g. drop decile 0, upsample 8-9). Ranking uses the
    ROUNDED score with doc_id tie-break so cross-engine float ulps
    can't reorder, and percent_rank itself is rounded before compare.

    Scale shape — NO global-window sort: global rank is computed with
    the same sharded distributed prefix-sum as q_sequence_packing.
    repartitionByRange totally orders shards by (score, doc_id); ranks
    are local windows WITHIN each shard; the only single-partition
    window runs over the 32-row shard-totals relation to produce each
    shard's rank offset. Result is shard-boundary-independent, so the
    (sampled but seed-deterministic) range boundaries cannot affect
    values."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = T.quality_features(docs).select(
        "doc_id", F.round("quality_score", 10).alias("quality_score")
    )
    n_shards = 32
    sharded = scored.repartitionByRange(
        n_shards, "quality_score", "doc_id"
    ).withColumn("__shard", F.spark_partition_id())
    w_local = Window.partitionBy("__shard").orderBy("quality_score", "doc_id")
    local = sharded.withColumn("__lrk", F.row_number().over(w_local))
    totals = local.groupBy("__shard").agg(F.max("__lrk").alias("__cnt"))
    w_off = Window.orderBy("__shard").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = totals.select(
        "__shard",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).alias("__off"),
        F.sum("__cnt").over(
            Window.orderBy("__shard").rangeBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("__n"),
    )
    ranked = local.join(F.broadcast(offsets), "__shard").select(
        "doc_id",
        "quality_score",
        ((F.col("__lrk") + F.col("__off") - 1) / (F.col("__n") - 1)).alias(
            "__pct"
        ),
    )
    return ranked.select(
        "doc_id",
        "quality_score",
        F.round("__pct", 10).alias("pct"),
        F.least(F.lit(9), F.floor(F.col("__pct") * 10)).cast("int").alias("decile"),
    )


LINE = 8  # tokens per "line" (the synthetic corpus has no newlines;
          # an 8-token span plays the role RefinedWeb's line does)


@register(
    "q_line_dedup",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    ln AS (
        SELECT doc_id, CAST(i AS INT) AS line_id,
               md5(array_to_string(t[(i*{LINE}+1):(i*{LINE}+{LINE})], ' ')) AS h,
               CAST(least({LINE}, len(t) - i*{LINE}) AS INT) AS n_toks
        FROM toks,
             UNNEST(generate_series(0, CAST(ceil(len(t)/{LINE}.0) AS BIGINT) - 1)) AS u(i)
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, line_id) AS rn
        FROM ln
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
    FROM ranked GROUP BY doc_id
    """,
)
def q_line_dedup(spark, sf_dir):
    """Corpus-level line deduplication (RefinedWeb/C4-style): every
    repeated line across the WHOLE corpus is dropped except its first
    occurrence (min doc_id, then position) — boilerplate headers,
    navigation text, and licence blocks vanish corpus-wide. "Line"
    here is a fixed 8-token span (the synthetic corpus has no
    newlines); per-doc accounting reports kept/dropped lines and the
    surviving token budget.

    Scale shape: the keep-first rank is a window PARTITIONED BY the
    line hash — hash-distributed shuffle, high-cardinality key, no
    global sort anywhere; the per-doc rollup is one more hash shuffle.
    Both shuffles survive 100×: key cardinality grows with the data.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    n_lines = F.ceil(F.size("t") / F.lit(float(LINE))).cast("int")
    start = F.col("line_id") * LINE + 1
    lines = (
        docs.select("doc_id", T.tokens("text").alias("t"))
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(0), n_lines - 1)).alias("line_id"),
        )
        .select(
            "doc_id",
            F.col("line_id").cast("int").alias("line_id"),
            F.md5(F.array_join(F.slice("t", start, LINE), " ")).alias("h"),
            F.least(F.lit(LINE), F.size("t") - F.col("line_id") * LINE)
            .cast("int")
            .alias("n_toks"),
        )
    )
    w = Window.partitionBy("h").orderBy("doc_id", "line_id")
    ranked = lines.withColumn("rn", F.row_number().over(w))
    kept = F.col("rn") == 1
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(kept, F.col("n_toks")).otherwise(0)).alias("kept_tokens"),
    )


VOCAB_MIN_FREQ = 5
_SPECIALS = ["[pad]", "[unk]", "[bos]", "[eos]"]


@register(
    "q_vocab_build",
    oracle=rf"""
    WITH tf AS (
        SELECT tok AS token, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (
            SELECT UNNEST(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
            FROM documents
        )
        GROUP BY 1
    ),
    ranked AS (
        SELECT CAST(row_number() OVER (ORDER BY freq DESC, token)
                    + {len(_SPECIALS) - 1} AS INT) AS token_id,
               token, freq
        FROM tf WHERE freq >= {VOCAB_MIN_FREQ}
    )
    SELECT * FROM ranked
    UNION ALL
    SELECT * FROM (VALUES
        (0, '[pad]', CAST(0 AS BIGINT)), (1, '[unk]', CAST(0 AS BIGINT)),
        (2, '[bos]', CAST(0 AS BIGINT)), (3, '[eos]', CAST(0 AS BIGINT))
    ) AS s(token_id, token, freq)
    """,
)
def q_vocab_build(spark, sf_dir):
    """Tokenizer-vocabulary construction: corpus term frequencies →
    contiguous token ids, most-frequent-first (ties broken
    lexicographically), special tokens pinned at ids 0-3 and real
    tokens starting at 4 — the id assignment every trainer's
    tokenizer.json needs.

    Scale shape: the term-frequency aggregate is a map-side-combined
    hash shuffle over tokens; the global rank runs through
    operators.relational.sharded_row_number (range-sharded local
    ranks + an offsets window over the 32-row shard totals), so a
    100M-type web vocabulary never funnels through one partition.
    """
    from big_data_projects_spark.operators.relational import (
        sharded_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(T.tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .filter(F.col("freq") >= VOCAB_MIN_FREQ)
    )
    ranked = sharded_row_number(
        tf, [F.desc("freq"), F.col("token")], out_col="rn"
    ).select(
        (F.col("rn") + len(_SPECIALS) - 1).cast("int").alias("token_id"),
        "token",
        "freq",
    )
    specials = spark.createDataFrame(
        [(i, t, 0) for i, t in enumerate(_SPECIALS)],
        "token_id int, token string, freq long",
    )
    return ranked.unionByName(specials)


@register(
    "q_zscore_per_group",
    oracle="""
    WITH g AS (
        SELECT source,
               COUNT(*) AS n,
               CAST(SUM(n_chars) AS DOUBLE) AS s1,
               CAST(SUM(n_chars * n_chars) AS DOUBLE) AS s2
        FROM documents GROUP BY source
    )
    SELECT d.doc_id, d.source,
           (d.n_chars - g.s1 / g.n)
               / sqrt((g.s2 - g.s1 * g.s1 / g.n) / (g.n - 1)) AS z
    FROM documents d JOIN g USING (source)
    """,
)
def q_zscore_per_group(spark, sf_dir):
    """Per-stratum z-score normalization of a document feature — the
    group-wise standardization step before mixing quality signals
    across sources. One aggregate pass builds exact int64 power sums
    per group (n, Σx, Σx²), then a broadcast join standardizes every
    row; the float math is the identical IEEE expression tree on both
    engines, so even the z doubles hash-match. Never a global window:
    the stats relation is group-cardinality-sized and broadcasts."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("double").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("double").alias("s2"),
    )
    n = F.col("n")
    mean = F.col("s1") / n
    var = (F.col("s2") - F.col("s1") * F.col("s1") / n) / (n - 1)
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(F.broadcast(g), "source")
        .select(
            "doc_id",
            "source",
            ((F.col("n_chars") - mean) / F.sqrt(var)).alias("z"),
        )
    )


GOPHER_STOPWORDS = ["the", "a", "of", "to", "and", "in", "is", "on", "that", "it"]
_STOP_SQL = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)


@register(
    "q_gopher_rules",
    oracle=rf"""
    WITH s AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               CAST(len(t) AS BIGINT) AS n_words,
               list_sum(list_transform(t, w -> len(w)))
                   / CAST(len(t) AS DOUBLE) AS mean_word_len,
               CAST(len(list_intersect(list_distinct(t), [{_STOP_SQL}]))
                    AS BIGINT) AS n_stopwords
        FROM s
    )
    SELECT doc_id, n_words, mean_word_len, n_stopwords,
           n_words BETWEEN 25 AND 500 AND mean_word_len BETWEEN 3 AND 10
               AND n_stopwords >= 2 AS keep
    FROM m
    """,
)
def q_gopher_rules(spark, sf_dir):
    """Gopher-style heuristic quality rules (Rae et al. 2021,
    arXiv:2112.11446 Table A1, bounds adapted to this corpus' short
    synthetic docs): word-count window, mean word length window, and a
    minimum count of distinct stopwords present — the standard cheap
    pre-filter a trillion-token pipeline runs before any model-based
    scoring. Per-row arithmetic over the token array, all in codegen
    (no explode, no shuffle, no UDF) — embarrassingly parallel at any
    scale. Exact-int sums divided once keep doubles engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", T.tokens("text").alias("__t"))
    n_words = F.size("__t").cast("long")
    total_len = F.aggregate(
        F.transform(F.col("__t"), lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_len = total_len / n_words
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.col("__t"), stop_arr)).cast("long")
    keep = (
        n_words.between(25, 500) & mean_len.between(3, 10) & (n_stop >= 2)
    )
    return base.select(
        "doc_id",
        n_words.alias("n_words"),
        mean_len.alias("mean_word_len"),
        n_stop.alias("n_stopwords"),
        keep.alias("keep"),
    )


_INC_SHINGLE = (
    "CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))"
    " AS BIGINT)"
)


@register(
    "q_incremental_dedup",
    oracle=rf"""
    WITH newb AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 = 0
    ),
    old AS (
        SELECT doc_id, text FROM documents WHERE doc_id % 4 != 0
    ),
    exact AS (
        SELECT DISTINCT n.doc_id
        FROM newb n JOIN (SELECT DISTINCT md5(text) AS h FROM old) o
          ON md5(n.text) = o.h
    ),
    shn_all AS (
        SELECT DISTINCT doc_id, {_INC_SHINGLE} AS shingle
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS t
              FROM newb),
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        WHERE len(t) >= 3
    ),
    sho_all AS (
        SELECT DISTINCT doc_id, {_INC_SHINGLE} AS shingle
        FROM (SELECT doc_id,
                     regexp_split_to_array(trim(lower(text)), '\s+') AS t
              FROM old),
             UNNEST(generate_series(1, len(t) - 2)) AS u(i)
        WHERE len(t) >= 3
    ),
    hot AS (
        SELECT shingle FROM sho_all GROUP BY shingle HAVING COUNT(*) > 1000
    ),
    near AS (
        SELECT DISTINCT a.doc_id
        FROM (SELECT * FROM shn_all WHERE shingle NOT IN (SELECT shingle FROM hot)) a
        JOIN (SELECT * FROM sho_all WHERE shingle NOT IN (SELECT shingle FROM hot)) b
          ON a.shingle = b.shingle
        GROUP BY a.doc_id, b.doc_id HAVING COUNT(*) >= 5
    )
    SELECT n.doc_id,
           CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
                WHEN nr.doc_id IS NOT NULL THEN 'near_dup'
                ELSE 'kept' END AS status
    FROM newb n
    LEFT JOIN exact e ON n.doc_id = e.doc_id
    LEFT JOIN near nr ON n.doc_id = nr.doc_id
    """,
)
def q_incremental_dedup(spark, sf_dir):
    """Incremental-ingest dedup — the production shape for a corpus
    that GROWS: a new batch (doc_id % 4 = 0 here) is checked against
    the existing corpus without ever re-deduping the corpus itself.
    Two stages, both equi-joins keyed to stay bounded at 100 TB:
    exact (md5 content-hash join against the DISTINCT existing-hash
    set) and near-dup (df-capped 3-gram shingles, pairwise common-
    shingle count >= 5 against any one existing doc — the same
    hot-shingle cap as q_ngram_jaccard keeps boilerplate from going
    quadratic). New docs come out tagged exact_dup / near_dup / kept;
    only the batch is scanned twice, the corpus once per stage."""
    docs = load_table(spark, sf_dir, "documents")
    new_pred = F.col("doc_id") % 4 == 0
    newb = docs.filter(new_pred)
    old = docs.filter(~new_pred)

    exact_ids = (
        newb.select("doc_id", D.content_hash("text").alias("__h"))
        .join(
            old.select(D.content_hash("text").alias("__h")).distinct(), "__h"
        )
        .select("doc_id")
        .distinct()
    )
    sh_new = D.shingles(newb, "doc_id", "text")
    sh_old = D.shingles(old, "doc_id", "text")
    hot = (
        sh_old.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") > 1000)
        .select("shingle")
    )
    sh_new_c = sh_new.join(hot, "shingle", "left_anti")
    sh_old_c = sh_old.join(hot, "shingle", "left_anti").select(
        F.col("doc_id").alias("__od"), "shingle"
    )
    near_ids = (
        sh_new_c.join(sh_old_c, "shingle")
        .groupBy("doc_id", "__od")
        .agg(F.count(F.lit(1)).alias("__c"))
        .filter(F.col("__c") >= 5)
        .select("doc_id")
        .distinct()
    )
    return (
        newb.select("doc_id")
        .join(exact_ids.withColumn("__e", F.lit(True)), "doc_id", "left")
        .join(near_ids.withColumn("__n", F.lit(True)), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("__e"), "exact_dup")
            .when(F.col("__n"), "near_dup")
            .otherwise("kept")
            .alias("status"),
        )
    )


@register(
    "q_token_histogram",
    oracle=r"""
    WITH n AS (
        SELECT CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS n_tokens
        FROM documents
    )
    SELECT CAST(length(bin(n_tokens)) - 1 AS INT) AS bucket,
           CAST(2 ** (length(bin(n_tokens)) - 1) AS BIGINT) AS bucket_lo,
           CAST(2 ** (length(bin(n_tokens))) - 1 AS BIGINT) AS bucket_hi,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
    FROM n GROUP BY 1, 2, 3
    """,
)
def q_token_histogram(spark, sf_dir):
    """Corpus length telemetry: documents bucketed by power-of-two
    token count (bucket k holds lengths [2^k, 2^k+1)) with doc and
    token totals per bucket — the histogram every packing/batching
    decision reads first. The bucket index comes from the BINARY
    STRING length of the count (exact integer MSB position), never
    floor(log2(x)) whose float rounding can misbucket exact powers of
    two cross-engine. Per-row arithmetic + one tiny aggregation."""
    docs = load_table(spark, sf_dir, "documents")
    n_tok = F.size(T.tokens("text")).cast("long")
    return (
        docs.select(n_tok.alias("n_tokens"))
        .select(
            "n_tokens",
            (F.length(F.bin("n_tokens")) - 1).cast("int").alias("bucket"),
            # SQL shiftleft accepts a column bit count; the DSL one
            # takes only a python int.
            F.expr("shiftleft(1L, length(bin(n_tokens)) - 1)").alias("bucket_lo"),
            F.expr("shiftleft(1L, length(bin(n_tokens))) - 1").alias("bucket_hi"),
        )
        .groupBy("bucket", "bucket_lo", "bucket_hi")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


_CLS_SCORE_SQL = (
    "list_sum(list_transform(regexp_split_to_array(trim(lower(text)), '\\s+'),"
    " t -> (CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % 512)"
    " * 2654435761 % 1000003 - 500001))"
)
PPL_KEEP_BELOW = 30.0  # corpus median — splits this synthetic corpus


@register(
    "q_quality_ensemble",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents
    ),
    cf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
    tot AS (SELECT COUNT(*) AS n, (SELECT COUNT(*) FROM cf) AS v FROM toks),
    nll AS (
        SELECT t.doc_id,
               CAST(round(-ln((c + 1.0) / (n + v)), 12) AS DECIMAL(38, 14)) AS x
        FROM toks t JOIN cf USING (term) CROSS JOIN tot
    ),
    ppl AS (
        SELECT doc_id, round(exp(CAST(SUM(x) AS DOUBLE) / COUNT(*)), 8) AS ppl
        FROM nll GROUP BY doc_id
    ),
    sig AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t,
               {_CLS_SCORE_SQL} AS score
        FROM documents
    ),
    rules AS (
        SELECT doc_id,
               len(t) BETWEEN 25 AND 500
                 AND list_sum(list_transform(t, w -> len(w)))
                     / CAST(len(t) AS DOUBLE) BETWEEN 3 AND 10
                 AND len(list_intersect(list_distinct(t), [{_STOP_SQL}])) >= 2
                   AS s_rules,
               score > 0 AS s_model
        FROM sig
    )
    SELECT r.doc_id, r.s_rules, r.s_model,
           p.ppl < {PPL_KEEP_BELOW} AS s_ppl,
           CAST(r.s_rules AS INT) + CAST(r.s_model AS INT)
             + CAST(p.ppl < {PPL_KEEP_BELOW} AS INT) >= 2 AS keep
    FROM rules r JOIN ppl p USING (doc_id)
    """,
)
def q_quality_ensemble(spark, sf_dir):
    """Ensemble quality gate — how production pipelines actually
    filter: heuristic rules (Gopher), a model-shaped scorer (hashed
    linear), and an LM signal (unigram perplexity) each vote, and a
    doc survives on a 2-of-3 majority. Composed as ONE Catalyst plan:
    the per-row signals fuse into the scan projection, the ppl branch
    reuses q_unigram_ppl's raw builder (corpus stats as 1-row
    broadcasts), and one doc_id equi-join assembles the votes. The
    pattern scales the same way each member does — no extra passes
    over text beyond its members'."""
    from big_data_projects_spark.queries import REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    t = T.tokens("text")
    n_words = F.size(t).cast("long")
    total_len = F.aggregate(
        F.transform(t, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    mean_len = total_len / n_words
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    s_rules = (
        n_words.between(25, 500)
        & mean_len.between(3, 10)
        & (F.size(F.array_intersect(t, stop_arr)) >= 2)
    )
    s_model = T.hashed_linear_score(F.col("text")) > 0
    sig = docs.select(
        "doc_id", s_rules.alias("s_rules"), s_model.alias("s_model")
    )
    ppl = REGISTRY["q_unigram_ppl"].raw(spark, sf_dir).select(
        "doc_id", (F.col("ppl") < PPL_KEEP_BELOW).alias("s_ppl")
    )
    votes = (
        F.col("s_rules").cast("int")
        + F.col("s_model").cast("int")
        + F.col("s_ppl").cast("int")
    )
    return sig.join(ppl, "doc_id").select(
        "doc_id", "s_rules", "s_model", "s_ppl", (votes >= 2).alias("keep")
    )


@register(
    "q_url_parse",
    oracle="""
    WITH synth AS (
        SELECT doc_id,
               'https://www.' || source || '.example.com/docs/'
                 || CAST(doc_id AS VARCHAR) || '?lang=' || lang AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1) AS host,
           regexp_replace(regexp_extract(url, '^[a-z]+://([^/]+)', 1),
                          '^www\\.', '') AS domain,
           regexp_extract(url, '^[a-z]+://[^/]+(/[^?]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&]*)', 1) AS lang_param
    FROM synth
    """,
)
def q_url_parse(spark, sf_dir):
    """URL normalization — the first transform every web-scrape
    pipeline runs: host extraction, www-stripped registrable domain,
    path, and a query parameter. URLs are synthesized deterministically
    per doc (same expression both engines), then Spark's built-in
    parse_url does the host/path/query extraction while the oracle
    re-derives the identical pieces with portable regex — so the
    builtin's semantics are themselves under test. Pure per-row
    codegen, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://www."), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
    )
    synth = docs.select("doc_id", url.alias("url"))
    host = F.parse_url("url", F.lit("HOST"))
    return synth.select(
        "doc_id",
        host.alias("host"),
        F.regexp_replace(host, r"^www\.", "").alias("domain"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
    )


@register(
    "q_html_strip",
    oracle="""
    WITH synth AS (
        SELECT doc_id,
               '<html><body><h1>doc ' || CAST(doc_id AS VARCHAR)
                 || '</h1><p>' || text || '</p><script>var x=1;</script>'
                 || '<p>&amp;footer&lt;end&gt;</p></body></html>' AS html
        FROM documents
    ),
    stripped AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(html, '<[^>]+>')) AS BIGINT)
                   AS n_tags,
               regexp_replace(
                   regexp_replace(html, '<script>.*?</script>', ' ', 'g'),
                   '<[^>]+>', ' ', 'g') AS no_tags
        FROM synth
    )
    SELECT doc_id, n_tags,
           md5(trim(regexp_replace(
               replace(replace(replace(no_tags, '&amp;', '&'),
                       '&lt;', '<'), '&gt;', '>'),
               ' +', ' ', 'g'))) AS clean_md5
    FROM stripped
    """,
)
def q_html_strip(spark, sf_dir):
    """HTML boilerplate stripping — the web-corpus text extractor:
    script blocks dropped whole, tags replaced by spaces, the common
    entities decoded, whitespace collapsed. Markup is synthesized
    deterministically around each doc (same expression both engines)
    and the cleaned text is md5-compressed for the compare. The
    non-greedy script pattern and global-replace flags are the classic
    cross-engine traps, pinned here. Per-row regex in codegen —
    embarrassingly parallel."""
    docs = load_table(spark, sf_dir, "documents")
    html = F.concat(
        F.lit("<html><body><h1>doc "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"),
        F.lit("</p><script>var x=1;</script>"),
        F.lit("<p>&amp;footer&lt;end&gt;</p></body></html>"),
    )
    synth = docs.select("doc_id", html.alias("html"))
    no_script = F.regexp_replace("html", "<script>.*?</script>", " ")
    no_tags = F.regexp_replace(no_script, "<[^>]+>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(no_tags, F.lit("&amp;"), F.lit("&")),
            F.lit("&lt;"), F.lit("<"),
        ),
        F.lit("&gt;"), F.lit(">"),
    )
    return synth.select(
        "doc_id",
        F.size(F.regexp_extract_all("html", F.lit("<[^>]+>"), F.lit(0)))
        .cast("long")
        .alias("n_tags"),
        F.md5(F.trim(F.regexp_replace(decoded, " +", " "))).alias("clean_md5"),
    )


VOCAB_TOP = 16  # the synthetic corpus has only 31 term types


@register(
    "q_oov_rate",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS w
        FROM documents
    ),
    cf AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w),
    vocab AS (
        SELECT w FROM cf ORDER BY c DESC, w LIMIT {VOCAB_TOP}
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
           SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) / CAST(COUNT(*) AS DOUBLE)
               AS oov_rate
    FROM toks t LEFT JOIN vocab v ON t.w = v.w
    GROUP BY t.doc_id
    """,
)
def q_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per document against the top-K corpus
    vocabulary (top-16 of this 31-type synthetic corpus, so the rate
    genuinely varies) — the number a tokenizer team reads before sizing
    the vocab (and the per-doc quality signal that catches gibberish). The
    vocabulary is a deterministic top-K of corpus term counts
    (count-desc, term tiebreak) selected via orderBy+limit
    (TakeOrderedAndProject over the TYPE table — never a global sort
    of tokens) and joined back as a broadcast-sized membership probe;
    the per-doc rate is exact-int division."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(T.tokens("text")).alias("w"))
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "w")
        .limit(VOCAB_TOP)
        .select("w", F.lit(True).alias("__in_v"))
    )
    joined = toks.join(vocab, "w", "left")
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        (
            F.sum(F.when(F.col("__in_v").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)).cast("double")
        ).alias("oov_rate"),
    )


@register(
    "q_pipeline_web_corpus",
    oracle=rf"""
    WITH synth AS (
        SELECT doc_id, source,
               '<html><body><p>' || text || '</p><script>var x=1;</script>'
                 || '<p>&amp;footer&lt;end&gt;</p></body></html>' AS html
        FROM documents
    ),
    clean AS (
        SELECT doc_id, source,
               trim(regexp_replace(
                   replace(replace(replace(
                       regexp_replace(
                           regexp_replace(html, '<script>.*?</script>', ' ', 'g'),
                           '<[^>]+>', ' ', 'g'),
                       '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
                   ' +', ' ', 'g')) AS text
        FROM synth
    ),
    judged AS (
        SELECT doc_id, source, md5(text) AS fp,
               CAST(len(regexp_split_to_array(text, ' ')) AS BIGINT) AS n_tokens,
               len(regexp_split_to_array(text, ' ')) BETWEEN 25 AND 500
                 AND list_sum(list_transform(regexp_split_to_array(text, ' '),
                         w -> len(w)))
                     / CAST(len(regexp_split_to_array(text, ' ')) AS DOUBLE)
                     BETWEEN 3 AND 10
                 AND len(list_intersect(
                         list_distinct(regexp_split_to_array(text, ' ')),
                         [{_STOP_SQL}])) >= 2 AS rule_keep
        FROM clean
    ),
    deduped AS (
        SELECT j.*,
               CASE WHEN j.rule_keep
                    THEN j.doc_id = MIN(CASE WHEN rule_keep THEN doc_id END)
                             OVER (PARTITION BY fp)
                    ELSE FALSE END AS is_kept
        FROM judged j
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_in,
           CAST(SUM(CASE WHEN NOT rule_keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_rule_dropped,
           CAST(SUM(CASE WHEN rule_keep AND NOT is_kept THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_dropped,
           CAST(SUM(CASE WHEN is_kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN is_kept THEN n_tokens ELSE 0 END) AS BIGINT)
               AS kept_tokens
    FROM deduped GROUP BY source
    """,
)
def q_pipeline_web_corpus(spark, sf_dir):
    """The web-corpus user story as ONE composed plan: raw HTML →
    strip (script drop, tag strip, entity decode, space collapse) →
    Gopher rule gate → corpus-level exact dedup on the CLEANED text
    (keep-lowest-id among rule-survivors) → per-source yield
    accounting (docs in, rule-dropped, dup-dropped, kept, surviving
    token budget — the report a crawl-ingest run publishes). Scale
    shape: per-row regex/codegen for clean+rules, ONE hash-partitioned
    min-window on the content fingerprint for dedup, one final
    aggregation; text shuffles once (fingerprint), never pairwise."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    html = F.concat(
        F.lit("<html><body><p>"), F.col("text"),
        F.lit("</p><script>var x=1;</script>"),
        F.lit("<p>&amp;footer&lt;end&gt;</p></body></html>"),
    )
    no_script = F.regexp_replace(html, "<script>.*?</script>", " ")
    no_tags = F.regexp_replace(no_script, "<[^>]+>", " ")
    decoded = F.replace(
        F.replace(
            F.replace(no_tags, F.lit("&amp;"), F.lit("&")),
            F.lit("&lt;"), F.lit("<"),
        ),
        F.lit("&gt;"), F.lit(">"),
    )
    clean = F.trim(F.regexp_replace(decoded, " +", " "))
    t = F.split(clean, " ")
    n_tokens = F.size(t).cast("long")
    total_len = F.aggregate(
        F.transform(t, lambda w: F.length(w).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    stop_arr = F.array(*[F.lit(w) for w in GOPHER_STOPWORDS])
    rule_keep = (
        n_tokens.between(25, 500)
        & (total_len / n_tokens).between(3, 10)
        & (F.size(F.array_intersect(t, stop_arr)) >= 2)
    )
    judged = docs.select(
        "doc_id", "source",
        F.md5(clean).alias("fp"),
        n_tokens.alias("n_tokens"),
        rule_keep.alias("rule_keep"),
    )
    w = Window.partitionBy("fp")
    keep_id = F.min(F.when(F.col("rule_keep"), F.col("doc_id"))).over(w)
    deduped = judged.withColumn(
        "is_kept",
        F.when(F.col("rule_keep"), F.col("doc_id") == keep_id).otherwise(
            F.lit(False)
        ),
    )
    return deduped.groupBy("source").agg(
        F.sum(F.lit(1)).alias("n_in"),
        F.sum(F.when(~F.col("rule_keep"), 1).otherwise(0)).alias("n_rule_dropped"),
        F.sum(
            F.when(F.col("rule_keep") & ~F.col("is_kept"), 1).otherwise(0)
        ).alias("n_dup_dropped"),
        F.sum(F.when(F.col("is_kept"), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("is_kept"), F.col("n_tokens")).otherwise(0)).alias(
            "kept_tokens"
        ),
    )


@register(
    "q_upsample_mix",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, source,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS nt
        FROM documents
    ),
    mass AS (
        SELECT source, CAST(SUM(nt) AS BIGINT) AS mass
        FROM toks GROUP BY source
    ),
    mx AS (SELECT MAX(mass) AS max_mass FROM mass),
    planned AS (
        SELECT t.doc_id, t.source, t.nt,
               (mx.max_mass // m.mass)
               + CASE WHEN CAST(('0x' || substr(md5(CAST(t.doc_id AS VARCHAR)),
                                                1, 13)) AS BIGINT) % m.mass
                           < mx.max_mass % m.mass
                      THEN 1 ELSE 0 END AS n_copies
        FROM toks t JOIN mass m USING (source) CROSS JOIN mx
    ),
    copies AS (
        SELECT doc_id, source, nt
        FROM planned, UNNEST(generate_series(1, n_copies)) AS u(i)
    )
    SELECT source,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_copies,
           CAST(SUM(nt) AS BIGINT) AS out_tokens
    FROM copies GROUP BY source
    """,
)
def q_upsample_mix(spark, sf_dir):
    """Deterministic corpus up-sampling to an equalized domain mix:
    every source is replicated up to the token mass of the LARGEST
    source — the epoch-expansion step of training-mix assembly (small
    high-quality domains repeat, the web crawl runs once).

    Each doc gets floor(max_mass/mass_s) whole copies plus one extra
    copy on a deterministic md5-keyed residual draw, so the expected
    per-source output mass equals max_mass exactly and reruns/retries
    produce byte-identical corpora (never rand()). The residual test is
    pure int64 modular arithmetic (hash % mass < max_mass % mass) —
    no float rate to disagree across engines. Replication is
    explode(sequence(1, n)) — executor-local row expansion AFTER the
    one small aggregate+broadcast, so the only shuffle is over the
    per-source mass table (≤ #sources rows); at 100 TB the fan-out
    writes stream straight to the sink."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "source", F.size(T.tokens("text")).cast("long").alias("nt")
    )
    mass = toks.groupBy("source").agg(F.sum("nt").alias("mass"))
    mx = mass.agg(F.max("mass").alias("max_mass"))
    planned = (
        toks.join(F.broadcast(mass), "source")
        .join(F.broadcast(mx))
        .withColumn(
            "n_copies",
            F.expr("max_mass DIV mass")
            + F.when(
                F.conv(
                    F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13),
                    16, 10,
                ).cast("long") % F.col("mass")
                < F.col("max_mass") % F.col("mass"),
                1,
            ).otherwise(0),
        )
    )
    copies = planned.select(
        "doc_id", "source", "nt",
        F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("i"),
    )
    return copies.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_copies"),
        F.sum("nt").alias("out_tokens"),
    )


BATCH_DOCS = 16  # documents per training batch


@register(
    "q_length_batching",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               CAST(len(regexp_split_to_array(trim(lower(text)), '\s+'))
                    AS BIGINT) AS nt
        FROM documents
    ),
    keyed AS (
        SELECT doc_id, nt,
               CAST(length(bin(nt)) - 1 AS INT) AS bucket,
               md5(CAST(doc_id AS VARCHAR)) AS k
        FROM toks WHERE nt > 0
    ),
    ranked AS (
        SELECT doc_id, nt, bucket,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY k, doc_id)
                   AS rk
        FROM keyed
    )
    SELECT bucket, CAST((rk - 1) // {BATCH_DOCS} AS BIGINT) AS batch_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(nt) AS BIGINT) AS batch_max,
           CAST(SUM(nt) AS BIGINT) AS batch_tokens,
           CAST(COUNT(*) * MAX(nt) - SUM(nt) AS BIGINT) AS padding_waste
    FROM ranked GROUP BY 1, 2
    """,
)
def q_length_batching(spark, sf_dir):
    """Length-grouped batch assembly: documents are grouped into
    power-of-two length buckets, deterministically shuffled inside each
    bucket (md5 key), and cut into fixed-size training batches — the
    standard trick that minimizes padding waste when batching variable-
    length sequences (batch_max - each doc's length is dead compute).
    padding_waste = n_docs*batch_max - batch_tokens is exact int64.

    Scale shape: the rank inside each bucket does NOT use a per-bucket
    window partition (a handful of hot buckets would each funnel
    through one reducer at 100 TB). Instead one GLOBAL total order
    (bucket, md5, doc_id) goes through the sharded distributed
    prefix-sum (sharded_row_number), and each bucket's local rank is
    recovered by subtracting the bucket's minimum global rank —
    a #buckets-row aggregate, broadcast back."""
    from big_data_projects_spark.operators.relational import (
        sharded_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = (
        docs.select(
            "doc_id", F.size(T.tokens("text")).cast("long").alias("nt")
        )
        .filter(F.col("nt") > 0)
        .select(
            "doc_id", "nt",
            (F.length(F.bin("nt")) - 1).cast("int").alias("bucket"),
            F.md5(F.col("doc_id").cast("string")).alias("k"),
        )
    )
    # Two consumers (per-bucket min + the join) — persist so the
    # prefix-sum runs once; registry clearCache reclaims it afterwards.
    ranked = sharded_row_number(keyed, ["bucket", "k", "doc_id"], "grk").persist()
    base = ranked.groupBy(F.col("bucket").alias("b")).agg(
        F.min("grk").alias("base_rk")
    )
    local = ranked.join(
        F.broadcast(base), ranked["bucket"] == base["b"]
    ).select(
        "bucket", "nt",
        ((F.col("grk") - F.col("base_rk")) / BATCH_DOCS).cast("long").alias(
            "batch_id"
        ),
    )
    return local.groupBy("bucket", "batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max("nt").alias("batch_max"),
        F.sum("nt").alias("batch_tokens"),
        (F.count(F.lit(1)) * F.max("nt") - F.sum("nt")).alias("padding_waste"),
    )


@register(
    "q_global_shuffle",
    oracle="""
    SELECT CAST(ROW_NUMBER()
                OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || ':7'), doc_id)
                AS BIGINT) AS position,
           doc_id, source
    FROM documents
    """,
)
def q_global_shuffle(spark, sf_dir):
    """Epoch-deterministic global corpus shuffle: every document gets a
    unique position in a pseudo-random total order keyed by
    md5(doc_id:epoch) — the shuffle a training loader needs (different
    permutation per epoch seed, byte-identical on rerun, never rand()).

    A naive ROW_NUMBER() OVER (ORDER BY hash) is a single-partition
    exchange — the same 100 TB wall as the reference's surrogate-key
    window (SURVEY §2.5). Positions here come from the sharded
    distributed prefix-sum (range-shard on the hash key, rank locally,
    offset by the #shards-row cumulative totals), so the full corpus
    never passes through one task and the output is ALSO range-sharded
    by position — exactly the layout a sharded data loader reads."""
    from big_data_projects_spark.operators.relational import (
        sharded_row_number,
    )

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", "source",
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":7"))).alias(
            "k"
        ),
    )
    return sharded_row_number(keyed, ["k", "doc_id"], "position").select(
        "position", "doc_id", "source"
    )


@register(
    "q_skipgram_pairs",
    oracle=r"""
    WITH toks AS (
        SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ),
    pos AS (
        SELECT doc_id, i, t[i] AS w
        FROM toks, UNNEST(generate_series(1, len(t))) AS u(i)
    ),
    pairs AS (
        SELECT a.w AS center, b.w AS context
        FROM pos a JOIN pos b
          ON a.doc_id = b.doc_id AND abs(a.i - b.i) BETWEEN 1 AND 2
    ),
    counts AS (
        SELECT center, context, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs GROUP BY 1, 2
    )
    SELECT center, context, n
    FROM (SELECT c.*, row_number() OVER (
              ORDER BY n DESC, center, context) AS rk
          FROM counts c)
    WHERE rk <= 100
    """,
)
def q_skipgram_pairs(spark, sf_dir):
    """Skip-gram (center, context) pair extraction — the training-pair
    generator for word2vec-style embedding models (window ±2), reduced
    to the corpus-level pair frequency table (top-100 by count).

    Scale shape: pair generation is JOIN-FREE — a nested array lambda
    builds each token's context pairs inside the row (flatten ∘
    transform ∘ filter, all codegen), so the corpus never self-joins on
    position; the only shuffle is the (center, context) count and the
    result is a TakeOrderedAndProject top-k, never a global sort. The
    oracle states the same pairs as a positional self-join, which is
    fine at oracle scale and exactly what the lambda avoids at 100 TB."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(T.tokens("text").alias("t"))
    pairs = toks.select(
        F.explode(
            F.expr(
                "flatten(transform(t, (w, i) -> "
                "transform(filter(array(i-2, i-1, i+1, i+2), "
                "                 j -> j >= 0 AND j < size(t)), "
                "          j -> struct(w AS center, "
                "                      element_at(t, j + 1) AS context))))"
            )
        ).alias("p")
    ).select("p.center", "p.context")
    counts = pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n")
    )
    return counts.orderBy(
        F.desc("n"), "center", "context"
    ).limit(100)


_SPAN_K = 8  # tokens per duplicated-span shingle


@register(
    "q_dup_span",
    oracle=rf"""
    WITH toks AS (
        SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents
    ), spans AS (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               array_to_string(t[(i+1):(i+{_SPAN_K})], ' ') AS sh
        FROM toks,
             UNNEST(generate_series(0, len(t) - {_SPAN_K})) AS u(i)
        WHERE len(t) >= {_SPAN_K}
    ), dup AS (
        SELECT sh FROM spans GROUP BY sh
        HAVING COUNT(DISTINCT doc_id) > 1
    ), covered AS (
        SELECT s.doc_id, COUNT(DISTINCT p) AS covered_tokens
        FROM spans s JOIN dup d USING (sh),
             UNNEST(generate_series(s.pos, s.pos + {_SPAN_K} - 1)) AS g(p)
        GROUP BY s.doc_id
    )
    SELECT t.doc_id, CAST(len(t.t) AS BIGINT) AS n_tokens,
           CAST(COALESCE(c.covered_tokens, 0) AS BIGINT)
             AS covered_tokens,
           CAST(COALESCE(c.covered_tokens, 0) AS DOUBLE) / len(t.t)
             AS dup_frac
    FROM toks t LEFT JOIN covered c USING (doc_id)
    """,
)
def q_dup_span(spark, sf_dir):
    """Exact duplicated-span detection (the substring-level counterpart
    of document dedup, per Lee et al.'s deduplication of exact repeated
    spans): every 8-token shingle occurring in more than one document
    marks its K token positions as duplicated; each document reports
    the fraction of its tokens covered by at least one such span.

    Scale shape: shingles are generated in-row (transform over a
    sequence of start offsets — no per-token explode), the duplicate
    set comes from one shingle groupBy (uniform md5-like key
    distribution), and position coverage is a distinct-count over
    exploded [pos, pos+K) ranges — bounded fan-out of K per span
    occurrence. At 100 TB the shingle groupBy is the only large
    shuffle, the same profile as q_ngram_jaccard's df-capped shingle
    join; hot boilerplate shingles can reuse the same df-cap if they
    ever skew. All outputs are exact integers plus one final double
    division, so the oracle hash-matches."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", T.tokens("text").alias("t"))
    k = _SPAN_K
    spans = toks.where(F.size("t") >= k).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}), "
                f"i -> struct(CAST(i AS BIGINT) AS pos, "
                f"array_join(slice(t, i + 1, {k}), ' ') AS sh))"
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.sh")
    dup = (
        spans.groupBy("sh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .where(F.col("nd") > 1)
        .select("sh")
    )
    covered = (
        spans.join(dup, "sh")
        .select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + k - 1)
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.count_distinct("p").alias("covered_tokens"))
    )
    return (
        toks.select("doc_id", F.size("t").cast("long").alias("n_tokens"))
        .join(covered, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("covered_tokens", F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            (
                F.coalesce("covered_tokens", F.lit(0)).cast("double")
                / F.col("n_tokens")
            ).alias("dup_frac"),
        )
    )
