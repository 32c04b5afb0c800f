"""Time-series analytics surface over the ``events`` table.

This is the analytics capability the reference delegates to Metabase
over its ``crypto_prices`` warehouse (reference README.md:42-45,
img/metabase-dashboard.png: hourly price trend per coin; SURVEY.md
§2.5 W1-W6). ``events(event_id, ts, user_id, event_type, value,
props)`` plays the role of the price series: ``event_type`` ≙
``crypto_id``, ``value`` ≙ ``price_usd``, ``ts`` ≙ ``extracted_at``.

All plans are pure DataFrame compositions — window functions, pivots
and time bucketing are built-in, stay inside whole-stage codegen, and
shuffle exactly once on the window/group key. At 100 TB the single
shuffle per query is on ``(entity)`` or ``(hour)``, both low-skew
here; a skewed entity would be handled by AQE skew-join/salting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.local import local_frame
from ..sources.tables import load_table
from .registry import register

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def _hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared first stage: avg value per (entity, hour).

    Rounded to 6 dp so downstream window math starts from doubles that
    are bit-identical to the DuckDB oracle's (sum order may differ).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type").alias("entity"),
        F.date_trunc("hour", F.col("ts")).alias("hour"),
    ).agg(F.round(F.avg("value"), 6).alias("avg_value"))


_HOURLY_SQL = """
    SELECT event_type AS entity,
           date_trunc('hour', ts) AS hour,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY 1, 2
"""


@register(
    "hourly_variation",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL})
    SELECT entity, hour, avg_value,
           round(avg_value - lag(avg_value) OVER w, 6) AS delta,
           round((avg_value - lag(avg_value) OVER w) / lag(avg_value) OVER w * 100, 6)
               AS pct_change
    FROM hourly
    WINDOW w AS (PARTITION BY entity ORDER BY hour)
    """,
    tags=("window", "timeseries", "parity"),
    bench=True,
)
def hourly_variation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-over-hour Δ and %Δ per entity — the flagship query.

    Re-expresses the reference's core analytics question ("monitorar a
    variação horária", reference README.md:5; SURVEY.md §2.5 W1+W2+W5):
    time-bucket to hours, per-entity window lag, delta and percent
    change. One shuffle for the groupBy, one for the window partition.
    """
    hourly = _hourly(spark, sf_dir)
    w = W.partitionBy("entity").orderBy("hour")
    prev = F.lag("avg_value").over(w)
    return hourly.select(
        "entity",
        "hour",
        "avg_value",
        F.round(F.col("avg_value") - prev, 6).alias("delta"),
        F.round((F.col("avg_value") - prev) / prev * 100, 6).alias("pct_change"),
    )


@register(
    "latest_per_entity",
    oracle="""
    SELECT entity, ts AS latest_ts, value AS latest_value
    FROM (
        SELECT event_type AS entity, ts, value,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    tags=("window", "topk", "parity"),
)
def latest_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest observation per entity (SURVEY.md §2.5 W4): top-1 per
    group via row_number, tiebroken on event_id for determinism."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("event_type").alias("entity"),
            F.col("ts").alias("latest_ts"),
            F.col("value").alias("latest_value"),
        )
    )


@register(
    "pivot_entities",
    oracle=f"""
    WITH hourly AS ({_HOURLY_SQL})
    SELECT hour,
           max(CASE WHEN entity = 'click' THEN avg_value END) AS click,
           max(CASE WHEN entity = 'error' THEN avg_value END) AS error,
           max(CASE WHEN entity = 'purchase' THEN avg_value END) AS purchase,
           max(CASE WHEN entity = 'signup' THEN avg_value END) AS signup,
           max(CASE WHEN entity = 'view' THEN avg_value END) AS view
    FROM hourly GROUP BY hour
    """,
    tags=("pivot", "parity"),
)
def pivot_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One column per entity against the shared hour axis — the
    dashboard series-alignment join (SURVEY.md §2.3 J2, §2.5 W3).

    Pivot values are declared explicitly so the plan needs no extra
    distinct-values job (matters at scale: implicit pivot runs a
    collect of distinct keys on the driver).
    """
    hourly = _hourly(spark, sf_dir)
    return (
        hourly.groupBy("hour")
        .pivot("entity", list(EVENT_TYPES))
        .agg(F.max("avg_value"))
    )


@register(
    "time_buckets",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket_start,
           count(*) AS n_events,
           round(sum(value), 4) AS total_value
    FROM events GROUP BY 1
    """,
    tags=("timeseries", "agg", "parity"),
)
def time_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour buckets via ``F.window`` (SURVEY.md §2.5 W5) —
    the same operator Structured Streaming uses, exercised in batch."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(F.col("w.start").alias("bucket_start"), "n_events", "total_value")
    )


@register(
    "rolling_avg",
    oracle="""
    SELECT event_id, user_id, ts,
           round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6)
               AS rolling_avg_value
    FROM events
    """,
    tags=("window", "timeseries"),
)
def rolling_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling mean over the last 4 observations (SURVEY.md
    §2.5 W6) — rowsBetween frame, deterministic order via event_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(w), 6).alias("rolling_avg_value"),
    )


@register(
    "json_extract",
    oracle="""
    SELECT event_type,
           round(avg(CAST(props::JSON->>'k' AS INTEGER)), 6) AS avg_k,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    tags=("json", "scalar", "parity"),
)
def json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the JSON ``props`` payload and aggregate a field — the
    reference's JSON-deserialize capability (SURVEY.md §2.1 S3) pushed
    into the engine via ``get_json_object`` (JVM-side, no Python)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(
            F.avg(F.get_json_object("props", "$.k").cast("int")), 6
        ).alias("avg_k"),
        F.count("*").alias("n"),
    )


@register(
    "trend_slope_per_entity",
    oracle="""
    SELECT event_type,
           round(regr_slope(value, (epoch(ts) - 1704067200) / 3600.0), 4)
               AS slope,
           round(regr_intercept(value, (epoch(ts) - 1704067200) / 3600.0), 4)
               AS intercept,
           round(regr_r2(value, (epoch(ts) - 1704067200) / 3600.0), 4) AS r2,
           CAST(count(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
    tags=("agg", "stats", "timeseries"),
)
def trend_slope_per_entity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear trend per entity ("acompanhar tendências",
    reference README.md:5) as built-in regression aggregates — one
    grouped pass, JVM-side, no Python. x = hours since 2024-01-01 in
    both engines: centering keeps the covariance numerically
    well-conditioned (raw epoch seconds ~1.7e9 lose the cross-engine
    last-digit agreement to cancellation)."""
    ev = load_table(spark, sf_dir, "events")
    x = (F.unix_timestamp("ts").cast("double") - 1704067200) / 3600.0
    return ev.groupBy("event_type").agg(
        F.round(F.regr_slope("value", x), 4).alias("slope"),
        F.round(F.regr_intercept("value", x), 4).alias("intercept"),
        F.round(F.regr_r2("value", x), 4).alias("r2"),
        F.count("*").alias("n"),
    )


@register(
    "rollup_incremental_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS bucket,
           event_type AS entity,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value
    FROM events GROUP BY 1, 2
    """,
    tags=("agg", "timeseries", "incremental"),
)
def rollup_incremental_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (operators/rollup.py): the
    events table folds into an hourly rollup in three disjoint
    batches; the incrementally merged table must equal the one-shot
    SQL aggregate — decomposable-aggregate delta merge, never a raw
    rescan."""
    import tempfile

    from ..operators.rollup import refresh_hourly_rollup

    ev = load_table(spark, sf_dir, "events")
    with tempfile.TemporaryDirectory(prefix="rollup_q_") as tmp:
        path = f"{tmp}/rollup"
        for i in range(3):
            refresh_hourly_rollup(spark, ev.filter(F.col("event_id") % 3 == i), path)
        out = spark.read.parquet(path).select(
            "bucket",
            "entity",
            "n_events",
            F.round("total_value", 6).alias("total_value"),
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
        )
        rows = out.collect()
    return local_frame(spark, rows, out.schema)


@register(
    "funnel_view_click_purchase",
    oracle="""
    WITH v AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN v ON v.user_id = e.user_id
        WHERE e.event_type = 'click' AND e.ts >= v.t_view
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts >= c.t_click
        GROUP BY e.user_id
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM v) AS n_viewed,
           (SELECT CAST(count(*) AS BIGINT) FROM c) AS n_clicked_after_view,
           (SELECT CAST(count(*) AS BIGINT) FROM p) AS n_purchased_after_click
    """,
    tags=("window", "funnel", "timeseries"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who viewed, then clicked at or
    after their first view, then purchased at or after that click —
    each stage is a grouped min-timestamp joined forward (all shuffles
    on user_id, so the stages reuse one partitioning)."""
    ev = load_table(spark, sf_dir, "events")
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") >= F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        v.agg(F.count("*").alias("n_viewed"))
        .crossJoin(c.agg(F.count("*").alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count("*").alias("n_purchased_after_click")))
    )


@register(
    "anomaly_zscore_events",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round(e.value, 6) AS value,
           round((e.value - s.mu) / s.sigma, 4) AS zscore
    FROM events e JOIN stats s ON s.event_type = e.event_type
    WHERE abs((e.value - s.mu) / s.sigma) > 3
    """,
    tags=("agg", "stats", "quality", "timeseries"),
)
def anomaly_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-entity z-score outliers (|z| > 3): grouped mean/stddev
    broadcast back onto the events — the monitoring counterpart of
    the quality gate (flag rows, don't fail the batch)."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(z, 4).alias("zscore"),
        )
    )


@register(
    "customer_rfm_segments",
    oracle="""
    WITH rfm AS (
        SELECT o_custkey AS custkey,
               max(o_orderdate) AS last_order,
               CAST(count(*) AS BIGINT) AS frequency,
               round(sum(o_totalprice), 2) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    scored AS (
        SELECT *,
               ntile(4) OVER (ORDER BY last_order, custkey) AS r_score,
               ntile(4) OVER (ORDER BY frequency, custkey) AS f_score,
               ntile(4) OVER (ORDER BY monetary, custkey) AS m_score
        FROM rfm
    )
    SELECT CAST(r_score AS INT) AS r_score,
           CAST(f_score AS INT) AS f_score,
           CAST(m_score AS INT) AS m_score,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(avg(monetary), 6) AS avg_monetary
    FROM scored GROUP BY 1, 2, 3
    """,
    tags=("window", "agg", "segmentation"),
)
def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary
    quartiles (ntile with total-order tiebreaks for cross-engine
    determinism), rolled up to segment sizes."""
    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    scored = (
        rfm.withColumn(
            "r_score",
            F.ntile(4).over(W.orderBy("last_order", "custkey")).cast("int"),
        )
        .withColumn(
            "f_score",
            F.ntile(4).over(W.orderBy("frequency", "custkey")).cast("int"),
        )
        .withColumn(
            "m_score",
            F.ntile(4).over(W.orderBy("monetary", "custkey")).cast("int"),
        )
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count("*").alias("n_customers"),
        F.round(F.avg("monetary"), 6).alias("avg_monetary"),
    )


@register(
    "quality_psi_value_drift",
    oracle="""
    WITH binned AS (
        SELECT CASE WHEN value < 10 THEN 0
                    WHEN value < 25 THEN 1
                    WHEN value < 50 THEN 2
                    WHEN value < 100 THEN 3
                    WHEN value < 200 THEN 4
                    ELSE 5 END AS bin,
               ts < TIMESTAMP '2024-01-16' AS in_a
        FROM events
    ),
    j AS (
        SELECT bin,
               count(*) FILTER (WHERE in_a) AS n_a,
               count(*) FILTER (WHERE NOT in_a) AS n_b
        FROM binned GROUP BY bin
    ),
    t AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM j),
    terms AS (
        SELECT bin, n_a, n_b,
               ((n_b + 1.0) / (tb + 6.0) - (n_a + 1.0) / (ta + 6.0))
               * ln(((n_b + 1.0) / (tb + 6.0)) / ((n_a + 1.0) / (ta + 6.0)))
                   AS term
        FROM j CROSS JOIN t
    )
    SELECT CAST(bin AS INT) AS bin,
           CAST(n_a AS BIGINT) AS n_a,
           CAST(n_b AS BIGINT) AS n_b,
           round(term, 6) AS psi_term,
           round(sum(term) OVER (), 6) AS psi_total
    FROM terms
    """,
    tags=("quality", "drift", "extension"),
)
def quality_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift check on the event value
    distribution, first half of January vs second half — the
    schema-valid-but-statistically-different guard a quality gate
    adds beyond min/max/freshness (quality/drift.py). Fixed bin
    edges, Laplace smoothing; psi_total repeated per row so a gate
    can threshold one value (<0.1 stable, >0.25 shifted)."""
    from ..quality.drift import distribution_psi

    ev = load_table(spark, sf_dir, "events")
    a = ev.filter(F.col("ts") < "2024-01-16")
    b = ev.filter(F.col("ts") >= "2024-01-16")
    return distribution_psi(a, b, "value", edges=[10.0, 25.0, 50.0, 100.0, 200.0])


@register(
    "analytics_retention_cohorts",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS week FROM events
    ),
    coh AS (
        SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id
    ),
    m AS (
        SELECT u.user_id, c.cohort_week,
               CAST(date_diff('day', c.cohort_week, u.week) / 7 AS INT)
                   AS week_offset
        FROM uw u JOIN coh c USING (user_id)
    ),
    sizes AS (
        SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        FROM coh GROUP BY 1
    )
    SELECT CAST(m.cohort_week AS DATE) AS cohort_week, week_offset,
           CAST(count(DISTINCT m.user_id) AS BIGINT) AS n_active,
           s.cohort_size,
           round(count(DISTINCT m.user_id) / s.cohort_size, 6)
               AS retention_pct
    FROM m JOIN sizes s USING (cohort_week)
    GROUP BY m.cohort_week, week_offset, s.cohort_size
    ORDER BY cohort_week, week_offset
    """,
    tags=("analytics", "timeseries", "window", "extension"),
)
def analytics_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    then the fraction of each cohort active N weeks later — the
    standard product-analytics retention triangle. Two user-keyed
    aggregations and one cohort-keyed rollup; everything shuffles on
    user_id (the distinct and the first-seen agg share the
    partitioning) and then on the tiny (cohort, offset) key — nothing
    is per-user on the driver. Week boundaries are ISO Mondays
    (``date_trunc('week')``) in both engines, so offsets are exact
    multiples of 7 days."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    uw = ev.select("user_id", wk.alias("week")).distinct()
    coh = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    m = uw.join(coh, "user_id").select(
        "user_id",
        "cohort_week",
        (F.datediff(F.col("week"), F.col("cohort_week")) / 7)
        .cast("int")
        .alias("week_offset"),
    )
    sizes = coh.groupBy("cohort_week").agg(
        F.count("*").cast("long").alias("cohort_size")
    )
    return (
        m.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").cast("long").alias("n_active"))
        .join(sizes, "cohort_week")
        .select(
            F.col("cohort_week").cast("date").alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention_pct"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


@register(
    "anomaly_mad_events",
    oracle="""
    WITH med AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY value) AS med
        FROM events GROUP BY 1
    ),
    dev AS (
        SELECT e.event_id, e.event_type, e.value, m.med,
               abs(e.value - m.med) AS adev
        FROM events e JOIN med m USING (event_type)
    ),
    mad AS (
        SELECT event_type,
               percentile_cont(0.5) WITHIN GROUP (ORDER BY adev) AS mad,
               avg(adev) AS meanad
        FROM dev GROUP BY 1
    ),
    z AS (
        SELECT d.event_id, d.event_type, d.value,
               CASE WHEN m2.mad != 0
                    THEN 0.6745 * (d.value - d.med) / m2.mad
                    WHEN m2.meanad != 0
                    THEN (d.value - d.med) / (1.253314 * m2.meanad)
               END AS mz
        FROM dev d JOIN mad m2 USING (event_type)
    )
    SELECT event_id, event_type, round(value, 6) AS value,
           round(mz, 4) AS mad_zscore
    FROM z WHERE abs(mz) > 3.5
    """,
    tags=("agg", "stats", "quality", "timeseries", "extension"),
)
def anomaly_mad_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outliers via the modified z-score (Iglewicz–Hoaglin:
    0.6745·(x−median)/MAD > 3.5) — the companion to
    ``anomaly_zscore_events`` that heavy-tailed metrics need: mean
    and stddev are themselves dragged by the outliers they're meant
    to flag, median/MAD are not. Both exact medians are computed in
    WINDOW form — sort by (event_type, value), pick the middle
    row(s) by ``row_number`` vs the partition count, average them —
    instead of a grouped ``percentile`` aggregate: the agg buffers
    each type's full value list in memory (non-spillable, an OOM at
    100 TB per-type volume), while WindowExec sorts through
    ``UnsafeExternalSorter`` and spills. Middle-row selection
    reproduces ``percentile_cont(0.5)`` exactly (odd n → the middle
    value, even n → the mean of the two middles), so the DuckDB
    oracle is unchanged. The residual scale limit is inherent to
    exact per-group medians: one sorted partition per event_type.

    MAD degeneracy (ADVICE r8): when ≥50% of a group's values equal
    the median, MAD is 0 and the modified z-score divides by zero —
    outliers in such groups would go silently unreported. Per
    Iglewicz–Hoaglin the fallback scale is the MEAN absolute
    deviation: (x − median)/(1.253314·meanAD). If meanAD is also 0
    the group is constant and has no outliers (score NULL, filtered)."""
    ev = load_table(spark, sf_dir, "events")

    def _windowed_median(df: DataFrame, col: str, out: str) -> DataFrame:
        # Exact percentile_cont(0.5) without a grouped list buffer:
        # one spillable sort per type, then the middle row(s).
        df = df.filter(F.col(col).isNotNull())  # percentile/percentile_cont skip nulls
        wo = W.partitionBy("event_type").orderBy(col)
        wf = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
        ranked = df.select(
            "event_type",
            col,
            F.row_number().over(wo).alias("rn"),
            F.count(F.lit(1)).over(wf).alias("cnt"),
        )
        mid = ranked.filter(
            (F.col("rn") == F.floor((F.col("cnt") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("cnt") + 2) / 2))
        )
        return mid.groupBy("event_type").agg(F.avg(col).alias(out))

    med = _windowed_median(ev, "value", "med")
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id", "event_type", "value", "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = _windowed_median(dev, "adev", "mad").join(
        dev.groupBy("event_type").agg(F.avg("adev").alias("meanad")),
        "event_type",
    )
    rz = (
        F.when(
            F.col("mad") != 0,
            F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad"),
        ).when(
            F.col("meanad") != 0,
            (F.col("value") - F.col("med")) / (F.lit(1.253314) * F.col("meanad")),
        )
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter(F.abs(rz) > 3.5)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(rz, 4).alias("mad_zscore"),
        )
    )
