"""Time-series analytics and sketch-based approximate aggregation.

Additive surface (the reference at Song-Analytics-with-Spark/
transform-data.py has no time-series or sketch operators): linear gap
interpolation, EWMA smoothing, Markov event transitions, robust MAD
outlier detection, rolling trend slopes, mergeable HLL distinct
sketches, and approx-top-k heavy hitters.

Float determinism policy (same as the kNN family): every floating-point
expression is written with the *identical* operation order on the Spark
and DuckDB sides, so IEEE-754 double results are bit-identical and the
driver's value hash matches — no rounding, no tolerance. Where order
independence is needed under a shuffle (sums), accumulation happens in
exact decimal/integer space first (operators.relational.dsum pattern).

Sketch oracle pattern: DuckDB cannot evaluate Spark's DataSketches
binaries, so the sketch queries output (a) the *exact* answer computed
independently and (b) a boolean asserting the sketch's deterministic
estimate stays inside its error bound. The oracle pins the exact
columns and the literal TRUE — a real regression signal for the
sketch + partial-merge path (a broken merge flips the boolean), not a
tautology.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from big_data_projects_spark.data import load_table
from big_data_projects_spark.registry import register

_DEC = "decimal(38,6)"


@register(
    "q_interpolate_linear",
    oracle="""
    WITH actual AS (
        SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
               CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
                 AS v
        FROM events GROUP BY 1, 2
    ), bounds AS (
        SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM actual GROUP BY 1
    ), spine AS (
        SELECT user_id,
               unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
        FROM bounds
    ), j AS (
        SELECT s.user_id, s.h, a.v
        FROM spine s LEFT JOIN actual a USING (user_id, h)
    ), anchored AS (
        SELECT user_id, h, v,
            last_value(v IGNORE NULLS) OVER wp AS pv,
            last_value(CASE WHEN v IS NOT NULL THEN epoch_us(h) END
                       IGNORE NULLS) OVER wp AS pus,
            first_value(v IGNORE NULLS) OVER wn AS nv,
            first_value(CASE WHEN v IS NOT NULL THEN epoch_us(h) END
                        IGNORE NULLS) OVER wn AS nus
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY h
                      ROWS UNBOUNDED PRECEDING),
               wn AS (PARTITION BY user_id ORDER BY h
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id, epoch_ms(h) AS hour_ms,
           CASE WHEN v IS NOT NULL THEN v
                ELSE pv + (nv - pv) *
                     (CAST(epoch_us(h) - pus AS DOUBLE) /
                      CAST(nus - pus AS DOUBLE))
           END AS val_filled,
           v IS NULL AS was_gap
    FROM anchored
    """,
)
def q_interpolate_linear(spark, sf_dir):
    """Time-series linear interpolation: per-user hourly mean value on a
    generated hourly spine, with missing hours filled by time-weighted
    linear interpolation between the neighbouring observed hours (the
    resample().interpolate() of pandas, distributed). Differs from
    q_gapfill_hourly, which zero-fills counts; here the fill is a value
    model.

    Shape: per-group bounded spine (sequence min..max hour, never a
    global calendar cross join), two IGNORE-NULLS window passes to find
    the previous/next anchor, pure codegen arithmetic for the fill.
    Spine endpoints are observed hours, so every gap has both anchors.
    At 100 TB the window partitions by user — bounded state per key, no
    global sort. Mean = exact decimal sum / count; the interpolation
    `pv + (nv-pv)*frac` is written identically in the oracle, so the
    doubles are bit-identical."""
    ev = load_table(spark, sf_dir, "events")
    actual = ev.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(
        (F.sum(F.col("value").cast(_DEC)).cast("double") / F.count("*"))
        .alias("v")
    )
    bounds = actual.groupBy("user_id").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    spine = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    j = spine.join(actual, ["user_id", "h"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # The forward anchor runs over a DESCENDING sort with a running
    # frame: Spark's [CURRENT ROW, UNBOUNDED FOLLOWING] frame re-scans
    # to the partition end for every row (O(n²) per key — measured 6.4 s
    # vs 1.3 s at sf0.1), while the running frame is O(n); last non-null
    # over h-descending ≡ first non-null at-or-after the current hour.
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.desc("h"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    us = F.unix_micros("h")
    anchor_us = F.when(F.col("v").isNotNull(), us)
    pv = F.last("v", ignorenulls=True).over(wp)
    pus = F.last(anchor_us, ignorenulls=True).over(wp)
    nv = F.last("v", ignorenulls=True).over(wn)
    nus = F.last(anchor_us, ignorenulls=True).over(wn)
    frac = (us - pus).cast("double") / (nus - pus).cast("double")
    return j.select(
        "user_id",
        F.unix_millis("h").alias("hour_ms"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .otherwise(pv + (nv - pv) * frac)
        .alias("val_filled"),
        F.col("v").isNull().alias("was_gap"),
    )


@register(
    "q_ewma",
    oracle="""
    SELECT user_id, CAST(len(l) AS BIGINT) AS n_events,
           list_reduce(l, (acc, x) -> 0.25 * x + 0.75 * acc) AS ewma
    FROM (
        SELECT user_id, list(value ORDER BY ts, event_id) AS l
        FROM events GROUP BY user_id
    )
    """,
)
def q_ewma(spark, sf_dir):
    """Exponentially-weighted moving average per user (alpha = 0.25,
    seeded with the first observation): y_i = 0.25*x_i + 0.75*y_{i-1}.
    EWMA is inherently sequential, but the sequence is *per key* — so
    the scalable shape is collect the (bounded) per-user series into an
    array and fold it JVM-side with the aggregate() higher-order
    function: one shuffle to group, zero Python, state bounded by the
    largest single user. The oracle folds the same ordered list with
    DuckDB list_reduce using the same lambda, so every intermediate
    IEEE operation matches and the final doubles are bit-identical
    (0.25 and 0.75 are exact binary fractions — no literal-conversion
    noise on either side)."""
    ev = load_table(spark, sf_dir, "events")
    arr = F.array_sort(
        F.collect_list(
            F.struct(
                F.unix_micros("ts").alias("us"),
                F.col("event_id").alias("eid"),
                F.col("value").alias("v"),
            )
        )
    )
    grouped = ev.groupBy("user_id").agg(arr.alias("a"))
    rest = F.slice(
        F.col("a"), 2, F.greatest(F.size("a") - 1, F.lit(0))
    )
    ewma = F.aggregate(
        rest,
        F.col("a")[0]["v"],
        lambda acc, x: F.lit(0.25) * x["v"] + F.lit(0.75) * acc,
    )
    return grouped.select(
        "user_id",
        F.size("a").cast("long").alias("n_events"),
        ewma.alias("ewma"),
    )


@register(
    "q_event_transitions",
    oracle="""
    WITH pairs AS (
        SELECT event_type AS from_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS to_type
        FROM events
    ), counts AS (
        SELECT from_type, to_type, COUNT(*) AS n
        FROM pairs WHERE to_type IS NOT NULL
        GROUP BY from_type, to_type
    )
    SELECT from_type, to_type, CAST(n AS BIGINT) AS n,
           CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY from_type) AS p
    FROM counts
    """,
)
def q_event_transitions(spark, sf_dir):
    """First-order Markov transition matrix over per-user event
    sequences: count of (event_type -> next event_type) steps and the
    row-normalized transition probability. The lead() window partitions
    by user (bounded state), the count groupBy is on a tiny key space,
    and the normalization window runs over at most |event_type|² rows —
    everything after the first shuffle is control-plane sized at any
    corpus scale. p = exact integer count / exact integer row sum, the
    same double division on both sides."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    counts = pairs.groupBy("from_type", "to_type").agg(
        F.count("*").alias("n")
    )
    wf = Window.partitionBy("from_type")
    return counts.select(
        "from_type",
        "to_type",
        "n",
        (F.col("n").cast("double") / F.sum("n").over(wf)).alias("p"),
    )


@register(
    "q_mad_outliers",
    oracle="""
    WITH med AS (
        SELECT event_type, median(value) AS med FROM events GROUP BY 1
    ), dev AS (
        SELECT e.event_type, m.med, abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ), mads AS (
        SELECT event_type, median(adev) AS mad FROM dev GROUP BY 1
    )
    SELECT d.event_type, MIN(d.med) AS med, MIN(m.mad) AS mad,
           CAST(SUM(CASE WHEN d.adev > 3 * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM dev d JOIN mads m USING (event_type)
    GROUP BY d.event_type
    """,
)
def q_mad_outliers(spark, sf_dir):
    """Robust outlier detection per event type via median absolute
    deviation: a point is an outlier when |x - median| > 3·MAD. Two
    exact-median passes (Spark F.median matches DuckDB median
    interpolation — proven by q_median) with the per-type medians
    broadcast back onto the fact table, so the big side shuffles only
    for its own group-bys; the medians themselves aggregate a bounded
    key space. The strict > comparison is on bit-identical doubles
    (both sides compute abs(value - med) and 3*mad in the same
    order)."""
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mads = dev.groupBy("event_type").agg(F.median("adev").alias("mad"))
    return (
        dev.join(F.broadcast(mads), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum(
                F.when(F.col("adev") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            F.count("*").alias("n"),
        )
    )


@register(
    "q_trend_slope",
    oracle="""
    WITH pts AS (
        SELECT user_id,
               (epoch_us(ts) // 1000000)
                 - MIN(epoch_us(ts) // 1000000)
                     OVER (PARTITION BY user_id) AS x,
               CAST(round(value * 100) AS BIGINT) AS y
        FROM events
    ), sums AS (
        SELECT user_id, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx
        FROM pts GROUP BY user_id
    )
    SELECT user_id, CAST(n AS BIGINT) AS n,
           CAST(n * sxy - sx * sy AS DOUBLE) /
           CAST(n * sxx - sx * sx AS DOUBLE) AS slope_cents_per_s
    FROM sums
    WHERE n * sxx - sx * sx <> 0
    """,
)
def q_trend_slope(spark, sf_dir):
    """Per-user OLS trend slope of value over time (cents per second):
    slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²). The inputs are mapped to
    exact integers first — x = seconds since the user's first event,
    y = cents — so every Σ accumulates integers exactly and the shuffle
    order cannot perturb the result; only the final single division is
    floating point, computed from identical integer operands on both
    sides. The moment products are cast to decimal(38,0) BEFORE the
    sum so accumulation itself happens in decimal (Spark) / hugeint
    (DuckDB) space — summing x·x ≈ 1e15-scale int64 products over
    ~1e4+ events would overflow an int64 accumulator; decimal
    accumulation is exact at any per-user history length. One groupBy
    shuffle total, degenerate (vertical / single point) series
    filtered by the zero-variance denominator."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    sec = F.expr("unix_micros(ts) DIV 1000000")
    pts = ev.select(
        "user_id",
        (sec - F.min(sec).over(wu)).alias("x"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    d = "decimal(38,0)"
    xd = F.col("x").cast(d)
    sums = pts.groupBy("user_id").agg(
        F.count("*").cast(d).alias("n"),
        F.sum(xd).cast(d).alias("sx"),
        F.sum(F.col("y").cast(d)).cast(d).alias("sy"),
        F.sum(xd * F.col("y")).cast(d).alias("sxy"),
        F.sum(xd * F.col("x")).cast(d).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.where(den != 0).select(
        "user_id",
        F.col("n").cast("long").alias("n"),
        (num.cast("double") / den.cast("double"))
        .alias("slope_cents_per_s"),
    )


@register(
    "q_hll_uniques",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_uniques,
           TRUE AS est_within_5pct
    FROM events GROUP BY event_type
    """,
)
def q_hll_uniques(spark, sf_dir):
    """Mergeable distinct-count sketches (Apache DataSketches HLL via
    hll_sketch_agg / hll_union_agg): per-type *daily* sketches are
    built first, then merged across days — the pre-aggregation shape
    that makes 100 TB distinct counts cheap (a day's sketch is a few KB
    regardless of row count; re-aggregating a year over any dimension
    merges sketches instead of re-scanning raw rows, and partial
    map-side merges are exact for the sketch semantics). The query
    outputs the exact distinct count (independent count_distinct path)
    plus a boolean pinning the merged sketch's estimate inside ±5% —
    the sketch is deterministic for a given input, so the boolean is a
    stable value the oracle can assert; a broken merge or estimator
    flips it."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_uniques")
    )
    return exact.join(F.broadcast(merged), "event_type").select(
        "event_type",
        "exact_uniques",
        (
            F.abs(F.col("est") - F.col("exact_uniques"))
            <= 0.05 * F.col("exact_uniques")
        ).alias("est_within_5pct"),
    )


@register(
    "q_sketch_top_terms",
    oracle=r"""
    WITH toks AS (
        SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+'))
                 AS tok
        FROM documents
    ), exact AS (
        SELECT tok, COUNT(*) AS n FROM toks WHERE tok <> ''
        GROUP BY tok
    )
    SELECT tok, CAST(n AS BIGINT) AS n, TRUE AS sketch_ok
    FROM exact
    ORDER BY n DESC, tok
    LIMIT 20
    """,
)
def q_sketch_top_terms(spark, sf_dir):
    """Heavy-hitter detection: exact top-20 corpus tokens (count desc,
    token asc tiebreak) cross-checked against the approx_top_k sketch.
    The sketch runs as a single mergeable aggregate — at 100 TB it
    replaces the full token groupBy with a bounded-memory summary per
    partition merged on one reducer — and the boolean pins that every
    exact heavy hitter appears in the sketch with its count inside ±2%
    (deterministic for a given input; the oracle asserts the exact
    counts and the literal TRUE)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    exact = toks.groupBy("tok").agg(F.count("*").alias("n"))
    top = exact.orderBy(F.desc("n"), "tok").limit(20)
    approx = (
        toks.agg(F.expr("approx_top_k(tok, 64, 65536)").alias("a"))
        .select(F.explode("a").alias("e"))
        .select(
            F.col("e.item").alias("tok"), F.col("e.count").alias("est")
        )
    )
    return top.join(approx, "tok", "left").select(
        "tok",
        "n",
        (
            F.col("est").isNotNull()
            & (
                F.abs(F.col("est") - F.col("n"))
                <= F.greatest(F.lit(1.0), 0.02 * F.col("n"))
            )
        ).alias("sketch_ok"),
    )


@register(
    "q_ohlc_bars",
    oracle="""
    WITH fl AS (
        SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS h,
               value,
               first_value(value) OVER w AS open,
               last_value(value) OVER w AS close
        FROM events
        WINDOW w AS (PARTITION BY event_type,
                                  time_bucket(INTERVAL '1 hour', ts)
                     ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING
                              AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, epoch_ms(h) AS hour_ms,
           MIN(open) AS open, MAX(value) AS high, MIN(value) AS low,
           MIN(close) AS close, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS volume
    FROM fl GROUP BY event_type, h
    """,
)
def q_ohlc_bars(spark, sf_dir):
    """Hourly OHLC bars per event type (the downsample-to-candles shape
    of metrics and market pipelines): open/close are the first/last
    value inside the bar by (ts, event_id), high/low are extrema,
    volume is an order-independent decimal sum. One window pass
    partitioned by (type, hour) — bounded frames, never a global sort —
    then one groupBy over the same key, which AQE plans as a single
    exchange since the partitioning matches."""
    ev = load_table(spark, sf_dir, "events")
    h = F.date_trunc("hour", "ts")
    w = (
        Window.partitionBy("event_type", "h")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    fl = ev.select(
        "event_type", h.alias("h"), "ts", "event_id", "value"
    ).select(
        "event_type",
        "h",
        "value",
        F.first("value").over(w).alias("open"),
        F.last("value").over(w).alias("close"),
    )
    return fl.groupBy("event_type", "h").agg(
        F.min("open").alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.min("close").alias("close"),
        F.count("*").alias("n"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("volume"),
    ).select(
        "event_type",
        F.unix_millis("h").alias("hour_ms"),
        "open", "high", "low", "close", "n", "volume",
    )


_PSI_BINS = 10


@register(
    "q_drift_psi",
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
               greatest(0, least({_PSI_BINS - 1},
                   (h.cents - e.mn) * {_PSI_BINS} // (e.mx - e.mn + 1)))
                 AS bin
        FROM halves h JOIN edges e USING (event_type)
    ), grid AS (
        SELECT DISTINCT event_type, u.bin
        FROM edges, UNNEST(generate_series(0, {_PSI_BINS - 1})) AS u(bin)
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
               ((kc + 0.5) / (t.nc + {_PSI_BINS} * 0.5)
                - (kr + 0.5) / (t.nr + {_PSI_BINS} * 0.5))
               * ln(((kc + 0.5) / (t.nc + {_PSI_BINS} * 0.5))
                    / ((kr + 0.5) / (t.nr + {_PSI_BINS} * 0.5))) * 1e12)
             AS BIGINT)) AS DOUBLE) / 1e12 AS psi
    FROM counts c JOIN tot t USING (event_type)
    GROUP BY c.event_type, t.nr, t.nc
    """,
)
def q_drift_psi(spark, sf_dir):
    """Distribution-drift detection via the Population Stability Index:
    the event timeline is split at its midpoint, each type's value
    distribution is histogrammed into 10 equal-width bins sized on the
    REFERENCE (first) half, and PSI = Σ (p_cur−p_ref)·ln(p_cur/p_ref)
    with add-half smoothing flags types whose value profile shifted
    (rule of thumb: >0.2 = major drift). The shape a production feed
    monitor runs daily against its training snapshot.

    Scale: bin edges are exact integer cents (no float boundary risk);
    the midpoint and per-type edges are tiny aggregates broadcast back;
    per-(type,bin,half) counts are one uniform groupBy; everything
    after is control-plane sized (types × 10 rows). Float determinism:
    each PSI term is quantized to INTEGER pico-units
    (round(t·1e12) → BIGINT), int64-summed, and converted once by the
    same int→double÷1e12 op on both engines — the integer-units
    q_entropy recipe. (The earlier round-12→decimal-sum→round-10
    shape leaves the final round a tie with P ≈ 1e-2 per output row,
    where Spark's shortest-repr double→decimal cast and DuckDB's
    binary expansion disagree — the failure a testdata refresh
    surfaced on q_entropy.)"""
    ev = load_table(spark, sf_dir, "events")
    nb = _PSI_BINS
    b = ev.select(
        "event_type",
        F.unix_micros("ts").alias("us"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    mid = b.agg(
        ((F.min("us") + F.max("us")) / F.lit(2)).cast("long").alias("mid_us")
    )
    halves = b.join(F.broadcast(mid)).select(
        "event_type",
        "cents",
        F.when(F.col("us") <= F.col("mid_us"), 0).otherwise(1).alias("half"),
    )
    edges = (
        halves.where(F.col("half") == 0)
        .groupBy("event_type")
        .agg(F.min("cents").alias("mn"), F.max("cents").alias("mx"))
    )
    binned = halves.join(F.broadcast(edges), "event_type").select(
        "event_type",
        "half",
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(nb - 1),
                ((F.col("cents") - F.col("mn")) * nb)
                .cast("long")
                / (F.col("mx") - F.col("mn") + 1),
            ),
        )
        .cast("long")
        .alias("bin"),
    )
    grid = edges.select(
        "event_type",
        F.explode(F.sequence(F.lit(0), F.lit(nb - 1))).alias("bin"),
    ).select("event_type", F.col("bin").cast("long").alias("bin"))
    # Aggregate the fact rows FIRST (uniform (type, bin) groupBy), then
    # left-join the tiny grid onto the tiny counts — joining the grid
    # directly against un-aggregated rows would broadcast the fact side
    # of a LeftOuter join, which dies at 100 TB.
    raw = binned.groupBy("event_type", "bin").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("kr0"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("kc0"),
    )
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
    smooth = F.lit(nb * 0.5)
    pr = (F.col("kr") + 0.5) / (F.col("nr") + smooth)
    pc = (F.col("kc") + 0.5) / (F.col("nc") + smooth)
    units = F.round((pc - pr) * F.log(pc / pr) * F.lit(1e12)).cast("long")
    return j.groupBy("event_type", "nr", "nc").agg(
        (F.sum(units).cast("double") / F.lit(1e12)).alias("psi")
    ).select(
        "event_type",
        F.col("nr").cast("long").alias("n_ref"),
        F.col("nc").cast("long").alias("n_cur"),
        "psi",
    )


@register(
    "q_approx_percentile_bound",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.50), 9) AS p50,
           round(quantile_cont(value, 0.90), 9) AS p90,
           TRUE AS approx_p50_in_band,
           TRUE AS approx_p90_in_band
    FROM events GROUP BY event_type
    """,
)
def q_approx_percentile_bound(spark, sf_dir):
    """Approximate percentiles with a pinned error band: exact p50/p90
    per type (the oracle's quantile_cont twins, round-9 to absorb
    interpolation-formula ulps) alongside booleans asserting the
    approx_percentile sketch estimate (accuracy 10000) lands inside the
    exact [p45,p55] / [p85,p95] rank bands. Upgrades the sketch from a
    rows-only claim (q_approx_agg precedent) to a hash-checked one: the
    Greenwald-Khanna-style summary is deterministic for a given input,
    so the in-band booleans are stable values a broken sketch or merge
    would flip. At 100 TB the sketch path is the only viable one —
    exact per-group percentile sorts; the sketch merges bounded
    summaries map-side."""
    ev = load_table(spark, sf_dir, "events")
    pct = lambda p: F.round(F.percentile("value", F.lit(p)), 9)  # noqa: E731
    apx = lambda p: F.approx_percentile(  # noqa: E731
        "value", F.lit(p), F.lit(10000)
    )
    return ev.groupBy("event_type").agg(
        pct(0.50).alias("p50"),
        pct(0.90).alias("p90"),
        apx(0.50)
        .between(pct(0.45), pct(0.55))
        .alias("approx_p50_in_band"),
        apx(0.90)
        .between(pct(0.85), pct(0.95))
        .alias("approx_p90_in_band"),
    )


@register(
    "q_feature_store_join",
    oracle="""
    WITH labels AS (
        SELECT event_id, user_id, ts FROM events
        WHERE event_type = 'purchase'
    ), feat_daily AS (
        SELECT user_id,
               time_bucket(INTERVAL '1 day', ts) + INTERVAL '1 day'
                 AS avail_ts,
               COUNT(*) AS n_clicks
        FROM events WHERE event_type = 'click'
        GROUP BY 1, 2
    ), feat_hourly AS (
        SELECT user_id,
               time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour'
                 AS avail_ts,
               COUNT(*) AS n_views
        FROM events WHERE event_type = 'view'
        GROUP BY 1, 2
    ), j1 AS (
        SELECT l.event_id, l.user_id, l.ts, d.n_clicks
        FROM labels l
        ASOF LEFT JOIN feat_daily d
          ON l.user_id = d.user_id AND l.ts >= d.avail_ts
    )
    SELECT j1.event_id, j1.user_id, epoch_ms(j1.ts) AS label_ts_ms,
           CAST(COALESCE(j1.n_clicks, 0) AS BIGINT) AS clicks_before,
           CAST(COALESCE(h.n_views, 0) AS BIGINT) AS views_before
    FROM j1
    ASOF LEFT JOIN feat_hourly h
      ON j1.user_id = h.user_id AND j1.ts >= h.avail_ts
    """,
)
def q_feature_store_join(spark, sf_dir):
    """Point-in-time-correct feature-store join (the training-set
    assembly shape of an ML feature platform): each label event
    (purchases) picks up, per feature table, the latest feature row
    whose AVAILABILITY time is at-or-before the label time — daily
    click counts published at day close and hourly view counts
    published at hour close. Joining on availability (not observation)
    time is what prevents feature leakage: a label can never see a
    feature computed from its own future.

    Two sequential as-of joins (operators/asof.py union-of-tagged-
    streams — one shuffle each, no broadcast requirement), left
    semantics with 0-fill for users with no feature history. The
    oracle is DuckDB's native ASOF LEFT JOIN twice."""
    ev = load_table(spark, sf_dir, "events")
    from big_data_projects_spark.operators.asof import asof_join

    labels = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    feat_daily = (
        ev.where(F.col("event_type") == "click")
        .groupBy(
            "user_id",
            (
                F.date_trunc("day", "ts") + F.expr("INTERVAL 1 DAY")
            ).alias("avail_ts"),
        )
        .agg(F.count(F.lit(1)).alias("n_clicks"))
    )
    feat_hourly = (
        ev.where(F.col("event_type") == "view")
        .groupBy(
            "user_id",
            (
                F.date_trunc("hour", "ts") + F.expr("INTERVAL 1 HOUR")
            ).alias("avail_ts"),
        )
        .agg(F.count(F.lit(1)).alias("n_views"))
    )
    j1 = asof_join(
        labels, feat_daily,
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="avail_ts",
        right_cols=["n_clicks"], how="left",
    ).select("event_id", "user_id", "ts", "asof_n_clicks")
    j2 = asof_join(
        j1, feat_hourly,
        left_on="user_id", right_on="user_id",
        left_time="ts", right_time="avail_ts",
        right_cols=["n_views"], how="left",
    )
    return j2.select(
        "event_id",
        "user_id",
        F.unix_millis("ts").alias("label_ts_ms"),
        F.coalesce("asof_n_clicks", F.lit(0))
        .cast("long")
        .alias("clicks_before"),
        F.coalesce("asof_n_views", F.lit(0))
        .cast("long")
        .alias("views_before"),
    )


@register(
    "q_cdc_apply",
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
def q_cdc_apply(spark, sf_dir):
    """CDC changelog materialization (last-writer-wins with
    tombstones): the event stream is read as a change log — 'error'
    rows are deletes, everything else upserts — and applied to produce
    the latest surviving state per key plus a change count. The
    compaction shape every CDC sink (Debezium → lakehouse) runs;
    distinct from q_merge_upsert (two-snapshot merge) and
    q_scd2_intervals (full history): this keeps ONLY current state and
    honors tombstones. One key-partitioned rank window and one count
    aggregate on the same key — a single shuffle's worth of work at
    any scale."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    log = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", "D")
        .otherwise("U")
        .alias("op"),
    ).withColumn("rn", F.row_number().over(w))
    counts = log.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_changes")
    )
    return (
        log.where((F.col("rn") == 1) & (F.col("op") != "D"))
        .join(counts, "user_id")
        .select(
            "user_id",
            F.unix_millis("ts").alias("updated_ms"),
            F.col("value").alias("last_value"),
            F.col("n_changes").cast("long").alias("n_changes"),
        )
    )


@register(
    "q_profile_columns",
    oracle="""
    SELECT 'event_id' AS column, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
           CAST(MIN(event_id) AS VARCHAR) AS min_repr,
           CAST(MAX(event_id) AS VARCHAR) AS max_repr
    FROM events
    UNION ALL
    SELECT 'ts', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT ts) AS BIGINT),
           CAST(epoch_ms(MIN(ts)) AS VARCHAR),
           CAST(epoch_ms(MAX(ts)) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT user_id) AS BIGINT),
           CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'event_type', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT event_type) AS BIGINT),
           MIN(event_type), MAX(event_type)
    FROM events
    UNION ALL
    SELECT 'value', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT value) AS BIGINT),
           CAST(CAST(round(MIN(value) * 100) AS BIGINT) AS VARCHAR),
           CAST(CAST(round(MAX(value) * 100) AS BIGINT) AS VARCHAR)
    FROM events
    UNION ALL
    SELECT 'props', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT props) AS BIGINT),
           MIN(props), MAX(props)
    FROM events
    """,
)
def q_profile_columns(spark, sf_dir):
    """Column profiling (the Deequ / Great Expectations profile stage):
    per column — row count, null count, exact distinct count, and
    canonical min/max representations (ints as decimal strings,
    timestamps as epoch-ms, doubles as exact integer cents) in one tall
    (column, metric...) relation. ONE aggregate pass over the table
    computes every metric (Catalyst plans the multi-count-distinct via
    expand — still a single scan), then stack() unpivots the 1-row
    result executor-locally. At 100 TB this is the profile you run
    before committing a new feed: one scan, no per-column jobs."""
    ev = load_table(spark, sf_dir, "events")
    reprs = {
        "event_id": (F.min("event_id"), F.max("event_id")),
        "ts": (F.unix_millis(F.min("ts")), F.unix_millis(F.max("ts"))),
        "user_id": (F.min("user_id"), F.max("user_id")),
        "event_type": (F.min("event_type"), F.max("event_type")),
        "value": (
            F.round(F.min("value") * 100).cast("long"),
            F.round(F.max("value") * 100).cast("long"),
        ),
        "props": (F.min("props"), F.max("props")),
    }
    aggs = [F.count(F.lit(1)).alias("n")]
    for c, (mn, mx) in reprs.items():
        aggs += [
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"null_{c}"
            ),
            F.count_distinct(F.col(c)).alias(f"nd_{c}"),
            mn.cast("string").alias(f"mn_{c}"),
            mx.cast("string").alias(f"mx_{c}"),
        ]
    one = ev.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', null_{c}, nd_{c}, mn_{c}, mx_{c}" for c in reprs
    )
    return one.select(
        F.expr(
            f"stack({len(reprs)}, {stack_args}) AS "
            "(column, n_null, n_distinct, min_repr, max_repr)"
        ),
        "n",
    ).select("column", "n", "n_null", "n_distinct", "min_repr", "max_repr")


_N_SHARDS, _N_REPLICAS = 8, 16


@register(
    "q_shard_assignment",
    oracle=f"""
    WITH vn AS (
        SELECT s.s, r.r,
               CAST(('0x' || substr(md5('vn:' || s.s || ':' || r.r), 1, 8))
                    AS BIGINT) AS vpos
        FROM (SELECT unnest(generate_series(0, {_N_SHARDS - 1})) AS s) s,
             (SELECT unnest(generate_series(0, {_N_REPLICAS - 1})) AS r) r
    ), d AS (
        SELECT doc_id,
               CAST(('0x' || substr(md5('doc:' || CAST(doc_id AS VARCHAR)),
                                    1, 8)) AS BIGINT) AS dpos
        FROM documents
    ), sel AS (
        SELECT d.doc_id, v.s,
               row_number() OVER (PARTITION BY d.doc_id
                                  ORDER BY (v.vpos < d.dpos), v.vpos, v.s)
                 AS rn
        FROM d CROSS JOIN vn v
    ), c AS (
        SELECT s AS shard, COUNT(*) AS n_docs FROM sel WHERE rn = 1
        GROUP BY s
    )
    SELECT CAST(shard AS BIGINT) AS shard,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_docs * {_N_SHARDS} AS DOUBLE) / SUM(n_docs) OVER ()
             AS load
    FROM c
    """,
)
def q_shard_assignment(spark, sf_dir):
    """Consistent-hash shard routing with virtual nodes (the Dynamo /
    Cassandra ring): 8 shards × 16 vnodes hash onto a 32-bit ring;
    each document routes to the first vnode clockwise from its own
    position (wrapping to the ring minimum). Output is per-shard
    document count and load factor (1.0 = perfectly even) — the
    balance audit you run before resharding, and the routing that
    moves only ~1/n of keys when a shard joins or leaves.

    Scale shape: the 128-entry ring is built engine-side (spark.range,
    no driver literals), collapsed into ONE sorted array row and
    broadcast; each document then binary-searches it with an array
    lambda — zero fan-out, zero shuffle until the 8-row count. The
    oracle states the same routing as a cross-join rank, which is fine
    at oracle scale and exactly what the broadcast array avoids at
    100 TB. md5-based positions are engine-portable (the q_hash_split
    recipe)."""
    docs = load_table(spark, sf_dir, "documents")
    n, r = _N_SHARDS, _N_REPLICAS
    vn = spark.range(n * r).select(
        (F.col("id") % n).alias("s"), (F.col("id") / n).cast("long").alias("r")
    )
    vpos = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("vn:"),
                    F.col("s").cast("string"),
                    F.lit(":"),
                    F.col("r").cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    ring = vn.select(vpos.alias("vpos"), "s").agg(
        F.array_sort(
            F.collect_list(F.struct("vpos", "s"))
        ).alias("ring")
    )
    dpos = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("doc:"), F.col("doc_id").cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    d = docs.select("doc_id", dpos.alias("dpos")).join(F.broadcast(ring))
    cand = F.filter("ring", lambda x: x["vpos"] >= F.col("dpos"))
    # try_element_at, not element_at: a document hashed past the LAST
    # vnode has an EMPTY candidate list (the wrap-around case), and
    # under ANSI mode element_at(empty, 1) throws before the coalesce
    # can wrap to the ring minimum — latent until a testdata refresh
    # produced doc ids whose positions exceed the top vnode.
    shard = F.coalesce(F.try_element_at(cand, F.lit(1)), F.col("ring")[0])["s"]
    counts = d.select(shard.alias("shard")).groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    w = Window.partitionBy()
    return counts.select(
        "shard",
        "n_docs",
        (
            (F.col("n_docs") * n).cast("double") / F.sum("n_docs").over(w)
        ).alias("load"),
    )
