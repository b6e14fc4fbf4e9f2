"""Structured Streaming queries (additive — the reference is batch-only,
SURVEY.md §2.9). The bounded events table drives a real streaming query
to completion; results equal the batch twin, so the windowed aggregate
is fully oracle-checked against DuckDB time_bucket.

API coverage note: arbitrary stateful processing is exercised through
applyInPandasWithState (q_stream_user_stats). Spark 4's successor API,
transformWithStateInPandas, is deliberately absent: its driver-side
worker requires a working google.protobuf, which this container lacks
(verified: STREAMING_PYTHON_RUNNER_INITIALIZATION_FAILURE, ImportError
'descriptor' from google.protobuf) and installs are off-limits. The
operator surface it would cover is the same per-key stateful shape
already verified here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from big_data_projects_spark.registry import register
from big_data_projects_spark.streaming.joins import (
    stream_static_enrich,
    stream_stream_click_purchase,
)
from big_data_projects_spark.streaming.stateful import (
    session_window_stream,
    stream_dedup,
    user_running_stats_stream,
)
from big_data_projects_spark.streaming.windowed import (
    hourly_event_counts_stream,
    sliding_event_counts_stream,
)


@register(
    "q_stream_hourly_counts",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL '1 hour', ts)) AS window_start_ms,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_hourly_counts(spark, sf_dir):
    """Tumbling 1-hour event-time windows with watermark, run as a real
    readStream→writeStream job (memory sink, complete mode, driven to
    completion). Decimal-accumulated sums keep streaming-state update
    order from affecting the result."""
    return hourly_event_counts_stream(spark, sf_dir)


@register(
    "q_stream_sliding_counts",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL '30 minutes', ts)
                    - k.k * INTERVAL '30 minutes') AS window_start_ms,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events CROSS JOIN (VALUES (0),(1)) k(k)
    GROUP BY 1, 2
    """,
)
def q_stream_sliding_counts(spark, sf_dir):
    """Sliding 1-hour windows every 30 minutes (each event in exactly
    two windows), run as a real streaming job. Oracle replicates each
    event into its two window starts."""
    return sliding_event_counts_stream(spark, sf_dir)


@register(
    "q_stream_session_windows",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN lag(ts) OVER w IS NULL
                         OR ts - lag(ts) OVER w > INTERVAL '30 minutes'
                    THEN 1 ELSE 0 END AS new_s
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
        -- event_id tiebreak keeps sid deterministic under duplicate
        -- (user_id, ts) at a session boundary.
        SELECT user_id, ts,
               SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sid
        FROM flagged
    )
    SELECT user_id, epoch_ms(min(ts)) AS session_start_ms,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """,
)
def q_stream_session_windows(spark, sf_dir):
    """Event-time session windows (30-min inactivity gap) as a real
    streaming query; final merged sessions equal batch gap-based
    sessionization (the oracle's lag/running-sum island detection)."""
    return session_window_stream(spark, sf_dir)


@register(
    "q_stream_dedup",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup(spark, sf_dir):
    """Streaming dedup against the state store: first (user_id,
    event_type) occurrence passes, later duplicates are dropped."""
    return stream_dedup(spark, sf_dir)


@register(
    "q_stream_user_stats",
    oracle="""
    SELECT user_id, COUNT(*) AS n_events,
           CAST(MAX(value) AS DOUBLE) AS max_value
    FROM events GROUP BY user_id
    """,
)
def q_stream_user_stats(spark, sf_dir):
    """Custom stateful operator (applyInPandasWithState): per-user
    running count + max, emitted per micro-batch in update mode; the
    bounded run's final state matches the batch aggregate."""
    return user_running_stats_stream(spark, sf_dir)


@register(
    "q_stream_static_join",
    oracle="""
    SELECT epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS window_start_ms,
           c_mktsegment, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
)
def q_stream_static_join(spark, sf_dir):
    """Stream⋈static enrichment: each micro-batch joins the broadcast
    customer dim (no streaming state for the static side), then a daily
    tumbling-window aggregate per market segment. Run to completion over
    the bounded source; equals the batch join+group."""
    return stream_static_enrich(spark, sf_dir)


@register(
    "q_stream_stream_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
           epoch_ms(c.ts) AS click_ms, epoch_ms(p.ts) AS purchase_ms
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """,
)
def q_stream_stream_join(spark, sf_dir):
    """Stream⋈stream event-time join (clicks × same-user purchases
    within 1 hour): watermarks on both sides plus the time-range bound
    keep the join state finite — the only stream-stream formulation
    that survives an unbounded source. Append mode; the bounded run
    emits exactly the batch join's pairs."""
    return stream_stream_click_purchase(spark, sf_dir)


@register(
    "q_stream_foreach_sink",
    oracle="""
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY event_type
    """,
)
def q_stream_foreach_sink(spark, sf_dir):
    """foreachBatch sink: the stream's micro-batches are written to
    parquet by arbitrary batch logic (the production escape hatch for
    sinks Structured Streaming lacks), then the files are read back and
    aggregated — proving the sink persisted exactly the source rows."""
    import tempfile

    from big_data_projects_spark.streaming.core import (
        events_stream,
        run_foreach_batch_to_parquet,
    )

    out = tempfile.mkdtemp(prefix="bdp_stream_sink_") + "/events_out"
    stream = events_stream(spark, sf_dir).select("event_id", "event_type", "value")
    run_foreach_batch_to_parquet(stream, out)
    back = spark.read.parquet(out)
    from big_data_projects_spark.operators.relational import dsum

    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dsum("value", "total_value")
    )


from big_data_projects_spark.sources import synthetic as _synth  # noqa: E402


@register(
    "q_stream_custom_source",
    oracle=f"""
    WITH synth AS ({_synth.oracle_sql(20000)})
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(amount AS DECIMAL(38,6))) AS DOUBLE) AS total_amount
    FROM synth GROUP BY event_type
    """,
)
def q_stream_custom_source(spark, sf_dir):
    """Streaming face of the custom Python DataSource: readStream over
    bdp_synth (SimpleDataSourceStreamReader — offsets are row indices,
    micro-batches of 2k rows, exactly-once restartable because each
    batch is a pure function of its offset pair), aggregated per event
    type in complete mode and driven to completion. The oracle
    regenerates the full relation in SQL and applies the same
    aggregate, so the driver hash-verifies the custom STREAMING
    connector end-to-end. ``sf_dir`` unused — the source is its own
    data."""
    from big_data_projects_spark.sources import synthetic
    from big_data_projects_spark.streaming.core import run_to_completion

    synthetic.register(spark)
    stream = (
        spark.readStream.format("bdp_synth")
        .option("n_rows", 20000)
        .option("batch_rows", 2000)
        .load()
    )
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("amount").cast("decimal(38,6)"))
        .cast("double")
        .alias("total_amount"),
    )
    return run_to_completion(agg, "complete")


@register(
    "q_stream_anti_dedup",
    oracle="""
    SELECT event_type, COUNT(*) AS n_new,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events WHERE event_id % 3 != 0 GROUP BY 1
    """,
)
def q_stream_anti_dedup(spark, sf_dir):
    """Stream⋈static LEFT ANTI dedup: records whose id is already in
    the historical ingestion ledger are dropped inside each micro-batch
    before aggregation — the incremental-corpus shape where replayed
    feeds must not double-count. Oracle is the batch twin."""
    from big_data_projects_spark.streaming.joins import (
        stream_static_anti_dedup,
    )

    return stream_static_anti_dedup(spark, sf_dir)


@register(
    "q_stream_dedup_watermarked",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def q_stream_dedup_watermarked(spark, sf_dir):
    """Bounded-state streaming dedup via dropDuplicatesWithinWatermark
    — the state-evicting production API (plain dropDuplicates keeps
    every key forever). Horizon > data span here, so the run equals
    global DISTINCT and stays fully oracle-checked."""
    from big_data_projects_spark.streaming.stateful import (
        stream_dedup_watermarked,
    )

    return stream_dedup_watermarked(spark, sf_dir)


@register(
    "q_stream_daily_topk",
    oracle="""
    WITH c AS (
        SELECT epoch_ms(time_bucket(INTERVAL '1 day', ts)) AS day_start_ms,
               event_type, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    )
    SELECT day_start_ms, event_type, n, CAST(rk AS BIGINT) AS rk
    FROM (SELECT c.*, row_number() OVER (
              PARTITION BY day_start_ms ORDER BY n DESC, event_type) AS rk
          FROM c)
    WHERE rk <= 3
    """,
)
def q_stream_daily_topk(spark, sf_dir):
    """Streaming windowed top-k: the watermarked stream maintains
    per-(day, type) counts; the per-day rank runs over the drained
    aggregate (rank-over-aggregate can't live inside a streaming
    plan — this two-stage split is the production shape). Equals the
    batch window-rank twin."""
    from big_data_projects_spark.streaming.windowed import (
        daily_topk_types_stream,
    )

    return daily_topk_types_stream(spark, sf_dir, k=3)


@register(
    "q_stream_file_ingest",
    oracle="""
    SELECT event_type, CAST(FLOOR(value) AS BIGINT) // 100 AS value_bucket,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS total_value
    FROM events GROUP BY 1, 2
    """,
)
def q_stream_file_ingest(spark, sf_dir):
    """Rate-limited incremental file ingestion — the most common
    production streaming shape (files landing in object storage): the
    events table is staged as 8 parquet files, readStream consumes the
    directory with maxFilesPerTrigger=2, and Trigger.AvailableNow
    drains the backlog as 4 rate-limited micro-batches then stops on
    its own (the catch-up trigger; trigger-once would ignore the rate
    limit). Each micro-batch lands via foreachBatch append; the
    read-back aggregate proves every staged row arrived exactly once.
    tests/test_streaming_recovery.py pins the batch split itself."""
    import tempfile

    from big_data_projects_spark.streaming.core import (
        run_available_now_to_parquet,
    )
    from big_data_projects_spark.operators.relational import dsum

    src = f"{sf_dir}/events.parquet"
    stage = tempfile.mkdtemp(prefix="bdp_file_ingest_src_")
    base = spark.read.parquet(src).select("event_id", "event_type", "value")
    base.repartition(8).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(base.schema).option(
        "maxFilesPerTrigger", 2
    ).parquet(stage)
    out = tempfile.mkdtemp(prefix="bdp_file_ingest_out_") + "/ingested"
    run_available_now_to_parquet(stream, out)
    back = spark.read.parquet(out)
    return back.groupBy(
        "event_type",
        F.expr("CAST(FLOOR(value) AS BIGINT) DIV 100").alias("value_bucket"),
    ).agg(F.count(F.lit(1)).alias("n"), dsum("value", "total_value"))


@register(
    "q_stream_drift_psi",
    oracle=f"""
    WITH b AS (
        SELECT event_type, epoch_us(ts) AS us,
               CAST(round(value * 100) AS BIGINT) AS cents
        FROM events
    ), mid AS (
        SELECT (MIN(us) + MAX(us)) // 2 AS mid_us FROM b
    ), halves AS (
        SELECT b.event_type, b.cents,
               CASE WHEN b.us <= m.mid_us THEN 0 ELSE 1 END AS half
        FROM b CROSS JOIN mid m
    ), edges AS (
        SELECT event_type, MIN(cents) AS mn, MAX(cents) AS mx
        FROM halves WHERE half = 0 GROUP BY event_type
    ), binned AS (
        SELECT h.event_type, h.half,
               greatest(0, least(9,
                   (h.cents - e.mn) * 10 // (e.mx - e.mn + 1)))
                 AS bin
        FROM halves h JOIN edges e USING (event_type)
    ), grid AS (
        SELECT DISTINCT event_type, u.bin
        FROM edges, UNNEST(generate_series(0, 9)) AS u(bin)
    ), counts AS (
        SELECT g.event_type, g.bin,
               COALESCE(SUM(CASE WHEN b.half = 0 THEN 1 END), 0) AS kr,
               COALESCE(SUM(CASE WHEN b.half = 1 THEN 1 END), 0) AS kc
        FROM grid g LEFT JOIN binned b
          ON g.event_type = b.event_type AND g.bin = b.bin
        GROUP BY g.event_type, g.bin
    ), tot AS (
        SELECT event_type, SUM(kr) AS nr, SUM(kc) AS nc
        FROM counts GROUP BY event_type
    )
    SELECT c.event_type,
           CAST(t.nr AS BIGINT) AS n_ref, CAST(t.nc AS BIGINT) AS n_cur,
           CAST(SUM(CAST(round(
               ((kc + 0.5) / (t.nc + 5.0)
                - (kr + 0.5) / (t.nr + 5.0))
               * ln(((kc + 0.5) / (t.nc + 5.0))
                    / ((kr + 0.5) / (t.nr + 5.0))) * 1e12)
             AS BIGINT)) AS DOUBLE) / 1e12 AS psi
    FROM counts c JOIN tot t USING (event_type)
    GROUP BY c.event_type, t.nr, t.nc
    """,
)
def q_stream_drift_psi(spark, sf_dir):
    """The PSI drift monitor (q_drift_psi) as a REAL streaming job —
    the production deployment shape of a training-feed monitor: the
    reference statistics (timeline midpoint, per-type integer-cent bin
    edges) are batch-computed control-plane tables joined into the
    stream (stream-static broadcast join), the stream maintains
    per-(type, bin, half) counts in state (complete mode), and PSI is
    computed over the drained aggregate — the same two-stage shape as
    q_stream_daily_topk, since the ln/decimal reduction isn't
    incrementally plannable and never needs to be: it runs on
    control-plane-sized state. Counts are additive, so micro-batch
    arrival order cannot change the result; the oracle is q_drift_psi's
    batch statement verbatim."""
    from big_data_projects_spark.streaming.core import (
        events_stream,
        run_to_completion,
    )

    from big_data_projects_spark.data import load_table

    # Control plane (batch): midpoint + reference-half bin edges.
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mid = b.agg(
        ((F.min("us") + F.max("us")) / F.lit(2)).cast("long").alias("mid_us")
    )
    edges = (
        b.join(F.broadcast(mid))
        .where(F.col("us") <= F.col("mid_us"))
        .groupBy("event_type")
        .agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
        .join(F.broadcast(mid))
    )

    # Stream: derive (half, bin) per event against the static edges,
    # keep running counts in state.
    stream = events_stream(spark, sf_dir).select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    joined = stream.join(F.broadcast(edges), "event_type")
    binned = joined.select(
        "event_type",
        F.when(F.col("us") <= F.col("mid_us"), 0).otherwise(1).alias("half"),
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(9),
                ((F.col("cents") - F.col("mn")) * 10)
                .cast("long")
                / (F.col("mx") - F.col("mn") + 1),
            ),
        )
        .cast("long")
        .alias("bin"),
    )
    streamed = run_to_completion(
        binned.groupBy("event_type", "bin", "half").agg(
            F.count(F.lit(1)).alias("k")
        ),
        "complete",
    )

    # Post-drain PSI over the control-plane-sized drained state.
    raw = streamed.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("k")).otherwise(0))
        .alias("kr0"),
        F.sum(F.when(F.col("half") == 1, F.col("k")).otherwise(0))
        .alias("kc0"),
    )
    grid = edges.select(
        "event_type", F.explode(F.sequence(F.lit(0), F.lit(9))).alias("bin")
    ).select("event_type", F.col("bin").cast("long").alias("bin"))
    counts = grid.join(raw, ["event_type", "bin"], "left").select(
        "event_type",
        "bin",
        F.coalesce("kr0", F.lit(0)).alias("kr"),
        F.coalesce("kc0", F.lit(0)).alias("kc"),
    )
    tot = counts.groupBy("event_type").agg(
        F.sum("kr").alias("nr"), F.sum("kc").alias("nc")
    )
    j = counts.join(F.broadcast(tot), "event_type")
    pr = (F.col("kr") + 0.5) / (F.col("nr") + F.lit(5.0))
    pc = (F.col("kc") + 0.5) / (F.col("nc") + F.lit(5.0))
    # Integer pico-units, not round->decimal-sum->round: the final
    # round of that shape ties with P ~ 1e-2 per row, where Spark's
    # shortest-repr double->decimal cast and DuckDB's binary expansion
    # disagree (the q_entropy refresh failure; see q_drift_psi).
    units = F.round((pc - pr) * F.log(pc / pr) * F.lit(1e12)).cast("long")
    return (
        j.groupBy("event_type", "nr", "nc")
        .agg((F.sum(units).cast("double") / F.lit(1e12)).alias("psi"))
        .select(
            "event_type",
            F.col("nr").cast("long").alias("n_ref"),
            F.col("nc").cast("long").alias("n_cur"),
            "psi",
        )
    )


def _stream_fuzzy_oracle() -> str:
    # Same SQL reconstruction as q_dedup_minhash_lsh's oracle (md5
    # shingles → universal-hash minima → md5 band buckets → exact
    # verify), with the candidate join crossed between the incoming
    # split (doc_id % 3 = 0) and the corpus split instead of the
    # self-join's doc_a < doc_b.
    from big_data_projects_spark.operators.dedup import (
        LSH_BANDS,
        LSH_ROWS,
        _MERSENNE31,
        _PERMS,
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
    sh AS (
        SELECT DISTINCT doc_id,
               CAST(('0x' || substr(md5(t[i] || ' ' || t[i+1] || ' ' || t[i+2]), 1, 15))
                    AS BIGINT) AS shingle
        FROM toks, UNNEST(generate_series(1, len(t)-2)) AS u(i)
        WHERE len(t) >= 3
    ),
    based AS (SELECT doc_id, shingle % {M} AS b FROM sh),
    sigs AS (
        SELECT doc_id,
               {mins}
        FROM based GROUP BY doc_id
    ),
    bands AS (
        {band_selects}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS in_doc, b.doc_id AS corpus_doc
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
        WHERE a.doc_id % 3 = 0 AND b.doc_id % 3 != 0
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    common AS (
        SELECT c.in_doc, c.corpus_doc, COUNT(*) AS n_common
        FROM cand c
        JOIN sh s1 ON s1.doc_id = c.in_doc
        JOIN sh s2 ON s2.doc_id = c.corpus_doc AND s2.shingle = s1.shingle
        GROUP BY 1, 2
    )
    SELECT m.in_doc, m.corpus_doc,
           m.n_common / (sa.n_sh + sb.n_sh - m.n_common) AS jaccard
    FROM common m
    JOIN sizes sa ON sa.doc_id = m.in_doc
    JOIN sizes sb ON sb.doc_id = m.corpus_doc
    WHERE m.n_common / (sa.n_sh + sb.n_sh - m.n_common) >= 0.1
    """


@register("q_stream_fuzzy_dedup", oracle=_stream_fuzzy_oracle())
def q_stream_fuzzy_dedup(spark, sf_dir):
    """Streaming fuzzy near-dup gate — the incremental deployment of
    MinHash-LSH dedup: a STATIC corpus LSH index (md5-portable band
    buckets of the existing corpus, doc_id % 3 != 0) is joined against
    a STREAM of incoming documents whose 64-permutation MinHash
    signatures are computed ENTIRELY IN-ROW (shingle array →
    array_distinct → 64 array_min folds → band buckets, pure codegen
    projection — zero shuffle, zero streaming state), so each
    micro-batch is a stateless stream-static equi-join on
    (band, bucket). Candidate matches drain through a foreachBatch
    parquet sink into a DISTRIBUTED batch DataFrame (the candidate set
    scales with batch×corpus overlap, so it never collects to the
    driver — run_to_distributed_batch, not the aggregate-only memory
    sink); exact Jaccard verification then runs batch-side over the
    drained candidates — the two-stage shape. At 100 TB the corpus
    index is a real table (not broadcast) and the join shuffles only
    each micro-batch; the in-row signature is the key property:
    incoming docs never need a groupBy before the lookup. The oracle
    reconstructs the whole pipeline in SQL, so signatures, banding,
    the stream-side candidate set, and the verify all hash-match."""
    from big_data_projects_spark.operators import dedup as D
    from big_data_projects_spark.streaming.core import (
        documents_stream,
        run_to_distributed_batch,
    )

    from big_data_projects_spark.data import load_table

    M = D._MERSENNE31
    docs = load_table(spark, sf_dir, "documents")

    # Static corpus index (batch): signatures → (band, bucket) table.
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    corpus_bands = D.band_buckets(
        D.minhash_signatures(corpus), hasher="md5"
    ).select(F.col("doc_id").alias("corpus_doc"), "band", "bucket")

    # Stream side: in-row signature (no shuffle, no state).
    stream = documents_stream(spark, sf_dir).where(
        F.col("doc_id") % 3 == 0
    )
    base = stream.select(
        "doc_id",
        F.split(F.trim(F.lower("text")), r"\s+").alias("__toks"),
    ).where(F.size("__toks") >= 3)
    sh = (
        "array_distinct(transform(sequence(0, size(__toks) - 3), "
        "i -> CAST(conv(substr(md5(concat_ws(' ', __toks[i], "
        "__toks[i+1], __toks[i+2])), 1, 15), 16, 10) AS BIGINT)))"
    )
    withsig = base.withColumn("__sh", F.expr(sh)).withColumn(
        "__b", F.expr(f"transform(__sh, s -> s % {M})")
    )
    hs = [
        F.expr(f"array_min(transform(__b, b -> (b * {a} + {c}) % {M}))")
        .alias(f"h{i}")
        for i, (a, c) in enumerate(D._PERMS)
    ]
    sig_row = withsig.select("doc_id", *hs)
    bucket_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            F.col(f"h{b * D.LSH_ROWS}"),
                            *[
                                F.col(f"h{i}")
                                for i in range(
                                    b * D.LSH_ROWS + 1, (b + 1) * D.LSH_ROWS
                                )
                            ],
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            )
            .cast("long")
            .alias("bucket"),
        )
        for b in range(D.LSH_BANDS)
    ]
    stream_bands = sig_row.select(
        F.col("doc_id").alias("in_doc"),
        F.explode(F.array(*bucket_structs)).alias("bb"),
    ).select("in_doc", "bb.band", "bb.bucket")

    matches = stream_bands.join(corpus_bands, ["band", "bucket"]).select(
        "in_doc", "corpus_doc"
    )
    drained = run_to_distributed_batch(matches)

    # Batch-side exact verify over the drained candidate set.
    cand = drained.distinct()
    sh_all = D.shingles(docs, "doc_id", "text").persist()
    sizes = sh_all.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    arrays = sh_all.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("arr")
    )
    j = (
        cand.join(
            arrays.select(
                F.col("doc_id").alias("in_doc"), F.col("arr").alias("arr_a")
            ),
            "in_doc",
        )
        .join(
            arrays.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("arr").alias("arr_b"),
            ),
            "corpus_doc",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("in_doc"), F.col("n_sh").alias("n_a")
            ),
            "in_doc",
        )
        .join(
            sizes.select(
                F.col("doc_id").alias("corpus_doc"),
                F.col("n_sh").alias("n_b"),
            ),
            "corpus_doc",
        )
        .select(
            "in_doc",
            "corpus_doc",
            (
                F.size(F.array_intersect("arr_a", "arr_b"))
                / (
                    F.col("n_a")
                    + F.col("n_b")
                    - F.size(F.array_intersect("arr_a", "arr_b"))
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.1)
    )
    return j


def _stream_ivf_oracle() -> str:
    # The _ivf_merge_oracle CTE structure (queries_llm.py) with the
    # streaming family's vec_id % 3 split: frozen corpus-only
    # centroids, row_number routing per stream vector, (probed cell ∧
    # band bucket) candidates, naive-cosine verify.  Both engines fold
    # dots sequentially on DOUBLE[], so routing ranks, buckets, sims —
    # the whole gate — reproduce bit-for-bit in SQL.
    from big_data_projects_spark.operators import similarity as S

    bits, n_bands, n_probe = 8, S.DEFAULT_LSH_BANDS, 2
    planes = S._hyperplanes(64, bits * n_bands)
    cos = (
        "list_dot_product({a},{b}) / (sqrt(list_dot_product({a},{a})) * "
        "sqrt(list_dot_product({b},{b})))"
    )

    def band_expr(tbl: str, j: int) -> str:
        terms = []
        for i in range(bits):
            lit = ", ".join("'" + repr(w) + "'" for w in planes[j * bits + i])
            terms.append(
                f"(CASE WHEN list_dot_product({tbl}.v, [{lit}]::DOUBLE[]) > 0"
                f" THEN {1 << i} ELSE 0 END)"
            )
        return " + ".join(terms)

    def sig_cols(tbl: str) -> str:
        return ", ".join(
            f"{band_expr(tbl, j)} AS b{j}" for j in range(n_bands)
        )

    def band_union(src: str) -> str:
        return "\n        UNION ALL ".join(
            f"SELECT vec_id, {j} AS band, b{j} AS bucket FROM {src}"
            for j in range(n_bands)
        )

    return f"""
    WITH pos AS (
        SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)
        WHERE vec_id % 3 != 0
    ),
    cent AS (
        SELECT label, pos,
               CAST(SUM(CAST(v AS DECIMAL(38,10))) AS DOUBLE) / COUNT(*) AS c
        FROM pos GROUP BY 1, 2
    ),
    cvec AS MATERIALIZED (
        SELECT label, list(c ORDER BY pos) AS centroid FROM cent GROUP BY label
    ),
    sin0 AS MATERIALIZED (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id % 3 = 0
    ),
    ssig AS MATERIALIZED (SELECT vec_id, v, {sig_cols("sin0")} FROM sin0),
    sband AS MATERIALIZED ({band_union("ssig")}),
    corpus0 AS MATERIALIZED (
        SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
        WHERE vec_id % 3 != 0
    ),
    csig AS MATERIALIZED (
        SELECT vec_id, label, v, {sig_cols("corpus0")} FROM corpus0
    ),
    routes AS MATERIALIZED (
        SELECT s.vec_id, c.label, ROW_NUMBER() OVER (
            PARTITION BY s.vec_id
            ORDER BY {cos.format(a="c.centroid", b="s.v")} DESC, c.label
        ) AS rn
        FROM ssig s CROSS JOIN cvec c
    ),
    probed AS MATERIALIZED (
        SELECT r.vec_id, r.label, s.band, s.bucket
        FROM routes r JOIN sband s ON s.vec_id = r.vec_id
        WHERE r.rn <= {n_probe}
    ),
    cband AS (
        SELECT c.vec_id, c.label, s.band, s.bucket
        FROM csig c JOIN ({band_union("csig")}) s ON s.vec_id = c.vec_id
    ),
    cand AS MATERIALIZED (
        SELECT DISTINCT b.vec_id AS in_vec, o.vec_id AS corpus_vec
        FROM probed b JOIN cband o
          ON o.label = b.label AND o.band = b.band AND o.bucket = b.bucket
    )
    SELECT c.in_vec, c.corpus_vec, {cos.format(a="a.v", b="b.v")} AS sim
    FROM cand c
    JOIN ssig a ON a.vec_id = c.in_vec
    JOIN csig b ON b.vec_id = c.corpus_vec
    WHERE {cos.format(a="a.v", b="b.v")} >= 0.3
    """


@register("q_stream_ivf_gate", oracle=_stream_ivf_oracle())
def q_stream_ivf_gate(spark, sf_dir):
    """Streaming ANN near-dup gate — the vector-side twin of
    q_stream_fuzzy_dedup and the streaming deployment of
    q_ivf_merge_ingest's frozen index (VERDICT r9 #6): a STATIC
    IVF+LSH index built from the existing corpus (vec_id % 3 != 0 —
    frozen centroids + the corpus (cell, band, bucket) relation) gates
    a STREAM of incoming vectors.  Per micro-batch, each incoming
    vector computes its hyperplane band signatures and its IVF routing
    ENTIRELY IN-ROW (the k frozen centroids arrive packed in ONE
    broadcast row — a stream-static join on a literal key — and
    array_sort over struct(-csim, cell) ranks them with the
    degenerate-sim guard of operators/similarity.py ivf_merge_ingest;
    no window, no stream shuffle, no state), explodes its top-2 probed
    cells x band buckets, and stream-static equi-joins the corpus
    index on (cell, band, bucket).  Candidates drain through a
    foreachBatch parquet sink into a DISTRIBUTED batch DataFrame
    (candidate volume scales with batch x bucket overlap — never
    collected to the driver), and exact cosine >= 0.3 verifies
    batch-side: the same candidates+verify contract as the batch MERGE.

    At 100 TB the corpus index is a stored table (not broadcast —
    only the k-row packed codebook is) and each micro-batch shuffles
    only itself; the in-row signature + routing is the key property:
    incoming vectors reach the index lookup without any groupBy.
    Returns (in_vec, corpus_vec, sim) verified matches.  The oracle
    reconstructs the whole gate in SQL — frozen centroids, routing
    ranks, buckets, candidate set, verify — and hash-matches."""
    return _ivf_gate_run(spark, sf_dir, bits=8)


def _ivf_gate_run(spark, sf_dir, bits: int = 8):
    """Full gate (stream drain + batch-side verify) under a selectable
    signature width — the registered query pins bits=8 (oracle-static
    buckets); the scale smoke measures the production scaled width."""
    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.operators import similarity as S
    from big_data_projects_spark.streaming.core import (
        run_to_distributed_batch,
    )

    threshold = 0.3
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 3 != 0)
    matches = _ivf_gate_match_stream(spark, sf_dir, bits=bits)
    drained = run_to_distributed_batch(matches)

    # Batch-side exact verify over the drained candidate set.
    cand = drained.distinct()
    s_vecs = emb.where(F.col("vec_id") % 3 == 0).select(
        F.col("vec_id").alias("in_vec"), F.col("embedding").alias("__sv")
    )
    o_vecs = corpus.select(
        F.col("vec_id").alias("corpus_vec"), F.col("embedding").alias("__ov")
    )
    return (
        cand.join(s_vecs, "in_vec")
        .join(o_vecs, "corpus_vec")
        .select(
            "in_vec",
            "corpus_vec",
            S.cosine_sim_total(F.col("__sv"), F.col("__ov")).alias("sim"),
        )
        .filter(F.col("sim") >= threshold)
    )


def _ivf_gate_match_stream(spark, sf_dir, bits: int = 8):
    """The stream side of q_stream_ivf_gate up to the candidate join —
    factored out so the statelessness/plan pins can inspect the
    STREAMING DataFrame without driving it (tests/test_plans.py).

    ``bits`` (signature bits per band) defaults to the oracle-pinned 8
    of the registered query; production deployments scale it with
    corpus size (lsh_bits_for) — the pinned width's bucket occupancy
    grows ∝ corpus, the hazard measured to exhaust a 252 GB disk for
    the batch MERGE twin at 600k vectors (r11; see
    operators/similarity.py ivf_merge_ingest).  The scale smoke's
    x_stream_ivf_gate_scaled measures this gate under the scaled
    width."""
    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.operators import similarity as S
    from big_data_projects_spark.streaming.core import embeddings_stream

    dim, n_bands, n_probe = 64, S.DEFAULT_LSH_BANDS, 2

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") % 3 != 0)
    sigs = S.band_signature_cols(dim, bits, n_bands)

    # Frozen index (static side): k centroids packed into ONE row
    # (control-plane aggregate, no driver collect) + the corpus
    # (cell, band, bucket) relation.
    packed = (
        S.part_centroids(corpus)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("label").alias("cell"), F.col("centroid"))
                )
            ).alias("__cents")
        )
        .withColumn("__one", F.lit(1))
    )
    bucket_explode = F.posexplode(
        F.array(*[F.col(f"b{j}") for j in range(n_bands)])
    ).alias("band", "bucket")
    # The corpus index's bits·bands sign folds per row are interpreted
    # HOF work in the static side's scan stage — single-threaded on a
    # one-row-group testdata scan, re-run inside the micro-batch;
    # spread the static rows across cores first (no-op at real scale —
    # see data.spread_small_scan; r12 optimization; batch side only,
    # the stream side stays exchange-free).
    from big_data_projects_spark.data import spread_small_scan

    corpus_index = (
        spread_small_scan(corpus.select("vec_id", "label", "embedding"))
        .select("vec_id", "label", *sigs)
        .select(F.col("vec_id").alias("corpus_vec"), "label", bucket_explode)
    )

    # Stream side: in-row signatures + in-row routing (stateless).
    stream = embeddings_stream(spark, sf_dir).where(F.col("vec_id") % 3 == 0)
    vec = F.col("embedding")
    neg_inf = F.lit(float("-inf"))
    scored = F.transform(
        F.col("__cents"),
        lambda c: F.struct(
            (
                -F.coalesce(
                    F.nanvl(S.cosine_sim_total(c["centroid"], vec), neg_inf),
                    neg_inf,
                )
            ).alias("negsim"),
            c["cell"].alias("cell"),
        ),
    )
    stream_keys = (
        stream.select("vec_id", "embedding", *sigs)
        .withColumn("__one", F.lit(1))
        .join(F.broadcast(packed), "__one")
        .select(
            F.col("vec_id").alias("in_vec"),
            F.transform(
                F.slice(F.array_sort(scored), 1, n_probe),
                lambda rc: rc["cell"],
            ).alias("__cells"),
            F.array(*[F.col(f"b{j}") for j in range(n_bands)]).alias(
                "__buckets"
            ),
        )
        .select("in_vec", F.explode("__cells").alias("label"), "__buckets")
        .select(
            "in_vec",
            "label",
            F.posexplode("__buckets").alias("band", "bucket"),
        )
    )
    return stream_keys.join(
        corpus_index, ["label", "band", "bucket"]
    ).select("in_vec", "corpus_vec")


@register(
    "q_stream_bloom_dedup",
    oracle=r"""
    WITH f AS (
        SELECT doc_id,
               md5(array_to_string(list_slice(
                   regexp_split_to_array(trim(lower(text)), '\s+'),
                   1, 5), ' ')) AS fp
        FROM documents
    )
    SELECT a.doc_id,
           a.fp IN (SELECT fp FROM f WHERE doc_id % 3 <> 0) AS is_dup
    FROM f a WHERE a.doc_id % 3 = 0
    """,
)
def q_stream_bloom_dedup(spark, sf_dir):
    """Bloom-gated streaming exact-dedup ingestion: incoming documents
    are fingerprinted IN-ROW (md5 of the first-5-token prefix — the
    leading-boilerplate dedup key) and pass through a broadcast
    4096-bit Bloom bitmask built from the corpus ledger (64 packed
    int64 literals, k=3 xxhash64 probes). Bloom-negative docs are
    DEFINITELY new and bypass the ledger join entirely — at 100 TB
    that is the difference between shuffling every incoming doc
    against a billion-row ledger and shuffling only the small
    maybe-duplicate fraction; bloom-positive docs go through the exact
    stream-static equi-join, which resolves false positives. Because a
    Bloom filter has no false negatives, gate+verify is EXACTLY the
    plain membership semantics, so the drained result hash-matches a
    bloom-free oracle — a wrong bitmask or probe would surface as a
    missed duplicate. (This demonstrates the gate with an explicit
    bitmask; for batch joins Catalyst injects the same shape natively
    — q_bloom_filter_join — and a production stream against a huge
    ledger sizes the bitmask to the ledger cardinality.) Candidates
    drain through the distributed foreachBatch sink, never the
    driver."""
    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.streaming.core import (
        documents_stream,
        run_to_distributed_batch,
    )

    B, K = 4096, 3

    def fp_col():
        toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
        return F.md5(
            F.concat_ws(" ", F.slice(toks, 1, 5)).cast("binary")
        )

    docs = load_table(spark, sf_dir, "documents")
    ledger = (
        docs.where(F.col("doc_id") % 3 != 0)
        .select(fp_col().alias("fp"))
        .distinct()
        .persist()
    )

    # Build: occupied bit positions (≤ B aggregated ints, control-plane
    # collect) packed into B/64 signed longs for a compact plan literal.
    probes = [
        F.pmod(F.xxhash64(F.col("fp"), F.lit(i)), F.lit(B))
        for i in range(K)
    ]
    positions = [
        r["p"]
        for r in ledger.select(
            F.explode(F.array(*probes)).alias("p")
        ).distinct().collect()
    ]
    words = [0] * (B // 64)
    for p in positions:
        words[p // 64] |= 1 << (p % 64)
    words = [w - (1 << 64) if w >= (1 << 63) else w for w in words]
    mask = F.array(*[F.lit(w).cast("long") for w in words])

    stream = documents_stream(spark, sf_dir).where(
        F.col("doc_id") % 3 == 0
    ).select("doc_id", fp_col().alias("fp"))

    def bit_set(h):
        word = F.element_at(mask, (h / 64).cast("int") + 1)
        shifted = F.call_function(
            "shiftright", word, (h % 64).cast("int")
        )
        return shifted.bitwiseAND(F.lit(1)) == 1

    maybe = None
    for i in range(K):
        h = F.pmod(F.xxhash64(F.col("fp"), F.lit(i)), F.lit(B))
        b = bit_set(h)
        maybe = b if maybe is None else (maybe & b)

    gated = stream.withColumn("__maybe", maybe)
    clean = gated.where(~F.col("__maybe")).select(
        "doc_id", F.lit(False).alias("is_dup")
    )
    cand = (
        gated.where(F.col("__maybe"))
        .join(
            ledger.withColumn("__hit", F.lit(True)), "fp", "left"
        )
        .select(
            "doc_id",
            F.coalesce(F.col("__hit"), F.lit(False)).alias("is_dup"),
        )
    )
    return run_to_distributed_batch(clean.unionByName(cand))


@register(
    "q_stream_cdc_apply",
    oracle="""
    WITH log AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ), counts AS (
        SELECT user_id, COUNT(*) AS n_changes FROM log GROUP BY user_id
    )
    SELECT l.user_id, epoch_ms(l.ts) AS updated_ms,
           l.value AS last_value,
           CAST(c.n_changes AS BIGINT) AS n_changes
    FROM log l JOIN counts c USING (user_id)
    WHERE l.rn = 1 AND l.op <> 'D'
    """,
)
def q_stream_cdc_apply(spark, sf_dir):
    """CDC changelog materialization as a STREAMING job — the
    continuously-maintained twin of the batch q_cdc_apply (same
    oracle): the change stream ('error' = delete tombstone, everything
    else upsert) folds into per-key last-writer-wins state via a
    streaming max-of-struct aggregate — lexicographic max over
    (ts, event_id, op, value) IS the rank-1-by-recency row, carried
    with a per-key change counter. Micro-batch arrival order cannot
    change the result (max and count are order-independent), so the
    drained state hash-matches the batch materialization. State is
    one row per live key — exactly the table being maintained, the
    honest memory floor for any CDC sink; the drained relation is
    key-count-sized (aggregate-shaped memory sink), and the tombstone
    filter is applied to the materialized state exactly as a
    downstream reader would."""
    from big_data_projects_spark.streaming.core import (
        events_stream,
        run_to_completion,
    )

    stream = events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value",
        F.when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    )
    agg = stream.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "op", "value")
        ).alias("last"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    state = run_to_completion(agg, "complete")
    return state.where(F.col("last.op") != "D").select(
        "user_id",
        F.unix_millis("last.ts").alias("updated_ms"),
        F.col("last.value").alias("last_value"),
        F.col("n_changes").cast("long").alias("n_changes"),
    )


def _stream_dsir_oracle() -> str:
    from big_data_projects_spark.queries_curation import DSIR_BUCKETS

    return rf"""
    WITH corpus AS (SELECT * FROM documents WHERE doc_id % 3 != 0),
    toks AS MATERIALIZED (
        SELECT doc_id, source,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM corpus
    ),
    b AS MATERIALIZED (
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
    ratio AS MATERIALIZED (
        SELECT g.bkt,
               CAST(round(
                   ln((COALESCE(tc.ct, 0) + 1.0) / (nt + {DSIR_BUCKETS}))
                   - ln((COALESCE(rc.cr, 0) + 1.0) / (nr + {DSIR_BUCKETS})),
                   12) AS DECIMAL(38, 14)) AS w
        FROM (SELECT unnest(range(0, {DSIR_BUCKETS})) AS bkt) g
        LEFT JOIN tc ON tc.bkt = g.bkt
        LEFT JOIN rc ON rc.bkt = g.bkt
        CROSS JOIN tot
    ),
    stream_toks AS (
        SELECT doc_id,
               unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        FROM documents WHERE doc_id % 3 = 0
    ),
    scored AS (
        SELECT s.doc_id, r.w
        FROM stream_toks s
        JOIN ratio r
          ON r.bkt = CAST(('0x' || substr(md5(s.term), 1, 8)) AS BIGINT)
                     % {DSIR_BUCKETS}
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_toks,
           round(CAST(SUM(w) AS DOUBLE), 8) AS log_weight,
           CAST(SUM(w) AS DOUBLE) > 0 AS keep
    FROM scored GROUP BY 1
    """


@register("q_stream_dsir_gate", oracle=_stream_dsir_oracle())
def q_stream_dsir_gate(spark, sf_dir):
    """Streaming DSIR quality gate — the incremental deployment of
    q_dsir_weights: the bucket likelihood-ratio table trains BATCH-side
    on the existing corpus (doc_id % 3 != 0, target = src0/src1) and is
    packed into a SINGLE static row (a 128-slot decimal array indexed
    by bucket); incoming documents (doc_id % 3 = 0) score themselves
    ENTIRELY IN-ROW — tokens → md5 buckets → element_at into the
    broadcast array → one decimal fold — so the stream needs NO
    explode, NO groupBy, and NO state: each micro-batch is a stateless
    projection + stream-static join on a literal key. Decimal addition
    is exact and associative, so the in-row fold equals the oracle's
    per-doc SUM bit-for-bit; the gate bit (log_weight > 0 = "more
    target-like than raw") rides the row.

    Drains through the distributed foreachBatch parquet sink
    (run_to_distributed_batch — per-doc output scales with the stream,
    so it never collects to the driver). At 100 TB the ratio table is
    KB-sized forever (bucket-count rows), the training pass is the
    batch DSIR plan, and the serving cost per document is O(tokens) in
    the scan task — the shape of a production streaming filter."""
    from big_data_projects_spark.data import load_table
    from big_data_projects_spark.queries_curation import DSIR_BUCKETS
    from big_data_projects_spark.streaming.core import (
        documents_stream,
        run_to_distributed_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 3 != 0)
    toks = corpus.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    )
    b = toks.select(
        "source",
        (
            F.conv(F.substring(F.md5("term"), 1, 8), 16, 10).cast("long")
            % DSIR_BUCKETS
        ).alias("bkt"),
    )
    tgt = F.col("source").isin("src0", "src1")
    tc = b.filter(tgt).groupBy("bkt").agg(F.count(F.lit(1)).alias("ct"))
    rc = b.groupBy("bkt").agg(F.count(F.lit(1)).alias("cr"))
    tot = (
        b.filter(tgt)
        .agg(F.count(F.lit(1)).alias("nt"))
        .crossJoin(F.broadcast(b.agg(F.count(F.lit(1)).alias("nr"))))
    )
    grid = spark.range(DSIR_BUCKETS).select(F.col("id").alias("bkt"))
    ratio = (
        grid.join(tc, "bkt", "left")
        .join(rc, "bkt", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bkt",
            F.round(
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nt") + F.lit(DSIR_BUCKETS))
                )
                - F.log(
                    (F.coalesce(F.col("cr"), F.lit(0)) + F.lit(1.0))
                    / (F.col("nr") + F.lit(DSIR_BUCKETS))
                ),
                12,
            )
            .cast("decimal(38,14)")
            .alias("w"),
        )
    )
    packed = (
        ratio.agg(
            F.array_sort(F.collect_list(F.struct("bkt", "w"))).alias("a")
        )
        .select(F.expr("transform(a, s -> s.w)").alias("__warr"))
        .withColumn("__one", F.lit(1))
    )

    stream = (
        documents_stream(spark, sf_dir)
        .where(F.col("doc_id") % 3 == 0)
        .select(
            "doc_id",
            F.split(F.trim(F.lower("text")), r"\s+").alias("__toks"),
        )
        .withColumn("__one", F.lit(1))
    )
    joined = stream.join(F.broadcast(packed), "__one")
    bkts = F.expr(
        "transform(__toks, t -> CAST(conv(substring(md5(t), 1, 8), 16, 10)"
        f" AS BIGINT) % {DSIR_BUCKETS})"
    )
    wsum = F.aggregate(
        F.transform(
            bkts, lambda bk: F.element_at(F.col("__warr"), (bk + 1).cast("int"))
        ),
        F.lit(0).cast("decimal(38,14)"),
        lambda acc, x: (acc + x).cast("decimal(38,14)"),
    )
    scored = joined.select(
        "doc_id",
        F.size("__toks").cast("long").alias("n_toks"),
        F.round(wsum.cast("double"), 8).alias("log_weight"),
        (wsum.cast("double") > 0).alias("keep"),
    )
    return run_to_distributed_batch(scored)


def _stream_gopher_oracle() -> str:
    from big_data_projects_spark.queries_corpus import GOPHER_STOPWORDS

    stop_sql = ", ".join(f"'{w}'" for w in GOPHER_STOPWORDS)
    return rf"""
    WITH s AS (
        SELECT doc_id, source,
               regexp_split_to_array(trim(lower(text)), '\s+') AS t
        FROM documents WHERE doc_id % 3 = 0
    ),
    m AS (
        SELECT doc_id, source,
               CAST(len(t) AS BIGINT) AS n_words,
               list_sum(list_transform(t, w -> len(w)))
                   / CAST(len(t) AS DOUBLE) AS mwl,
               CAST(len(list_intersect(list_distinct(t), [{stop_sql}]))
                    AS BIGINT) AS n_stop
        FROM s
    ),
    k AS (
        SELECT source,
               n_words BETWEEN 25 AND 500 AND mwl BETWEEN 3 AND 10
                   AND n_stop >= 2 AS keep
        FROM m
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_seen,
           CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT)
             AS n_kept,
           round(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0)
                 / CAST(COUNT(*) AS DOUBLE), 8) AS keep_rate
    FROM k GROUP BY 1
    """


@register("q_stream_gopher_gate", oracle=_stream_gopher_oracle())
def q_stream_gopher_gate(spark, sf_dir):
    """Gopher heuristic gate deployed streaming — the cheap per-row
    quality pre-filter running at INGEST time with per-source yield
    accounting: incoming documents (doc_id % 3 = 0, the ingest slice)
    evaluate the word-count / mean-word-length / stopword rules
    entirely in-row (pure codegen, zero state), and the per-source
    keep rates come from a watermark-free streaming aggregation whose
    counts are additive — micro-batch order cannot change the result,
    so the drained aggregate hash-matches the batch restatement
    verbatim (the q_stream_drift_psi two-stage discipline).

    At 100 TB this is the first stage of a streaming ingest pipeline:
    the rules cost O(tokens) inside the scan task, the only state is
    |sources| running count pairs."""
    from big_data_projects_spark.queries_corpus import GOPHER_STOPWORDS
    from big_data_projects_spark.streaming.core import (
        documents_stream,
        run_to_completion,
    )

    stream = documents_stream(spark, sf_dir).where(F.col("doc_id") % 3 == 0)
    base = stream.select(
        "source", F.split(F.trim(F.lower("text")), r"\s+").alias("__t")
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
    keep = (
        n_words.between(25, 500) & mwl.between(3, 10) & (n_stop >= 2)
    )
    agg = (
        base.select("source", keep.alias("keep"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seen"),
            F.coalesce(F.sum(F.when(F.col("keep"), 1)), F.lit(0))
            .cast("long")
            .alias("n_kept"),
        )
    )
    out = run_to_completion(agg, output_mode="complete")
    return out.select(
        "source",
        "n_seen",
        "n_kept",
        F.round(
            F.col("n_kept") / F.col("n_seen").cast("double"), 8
        ).alias("keep_rate"),
    )
