"""Event-table workload: time-window aggregation, sessionization,
pivot, JSON extraction — the batch faces of the streaming operators in
streaming/ (the reference has no streaming at all, SURVEY.md §2.9; this
is net-new surface)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

SESSION_GAP_MINUTES = 30
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
IV_USERS = 20       # users whose first event anchors an analysis window
IV_MINUTES = 45     # window length
IV_BIN_SECONDS = 900  # interval-join bucket width (~window/3)


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events fixture with `ts` normalized to TIMESTAMP
    (the physical encoding has varied across driver versions — nanos,
    NTZ micros, UTC micros; see sources.tables.normalize_ts).

    The session timezone is pinned to UTC here because the normalized
    column is TZ-bearing: collected values and date_trunc buckets must
    be UTC wall-clock to match the file's naive encoding (and the
    DuckDB oracle) regardless of the calling session's timezone — the
    driver's session is not ours to configure."""
    from semantic_similarity_system_using_aws_mapreduce_spark.sources.tables import normalize_ts

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return normalize_ts(spark.read.parquet(f"{sf_dir}/events.parquet"))


def q_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type counts and value stats.

    Values are quantized to integer micros before summing: double
    summation is order-dependent, and at sf0.1 one group's true mean
    landed exactly on a 6th-decimal rounding boundary
    (…43.4728125), flipping the last digit between engines.  An int64
    sum has one answer, so the final divide+round sees bit-identical
    input everywhere."""
    micros = F.round(F.col("value") * 1_000_000, 0).cast("long")
    return (
        _events(spark, sf_dir)
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "event_type",
        )
        .agg(F.count("*").alias("n"), F.sum(micros).alias("_sm"))
        .select(
            "hour",
            "event_type",
            "n",
            F.round(F.col("_sm") / 1_000_000.0, 4).alias("sum_value"),
            F.round(F.col("_sm") / 1_000_000.0 / F.col("n"), 6).alias("avg_value"),
        )
    )


def q_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: a session break is a gap > 30 min from the
    previous event of the same user (lag window + conditional sum)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    is_new = (
        F.when(gap_us.isNull() | (gap_us > SESSION_GAP_MINUTES * 60 * 1_000_000), 1)
        .otherwise(0)
    )
    # int64-micros sum: double summation order differs between engines
    # and a group mean/sum on the rounding boundary flips the hash
    # (observed on q_hourly_event_stats at sf0.1)
    micros = F.round(F.col("value") * 1_000_000, 0).cast("long")
    return (
        _events(spark, sf_dir)
        .withColumn("new_session", is_new)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
            F.sum(micros).alias("_sm"),
        )
        .select(
            "user_id",
            "n_sessions",
            "n_events",
            F.round(F.col("_sm") / 1_000_000.0, 4).alias("total_value"),
        )
    )


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyless range join: per analysis window (first event of each of
    the {IV_USERS} lowest user ids + {IV_MINUTES} min), count and sum
    ALL users' events inside it.  Runs through the bin-bucketed
    interval_join operator — an equi-join on time buckets instead of
    the BroadcastNestedLoopJoin a raw range predicate would produce."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.range_join import interval_join

    ev = _events(spark, sf_dir)
    iv = (
        ev.filter(F.col("user_id") < IV_USERS)
        .groupBy(F.col("user_id").alias("iv_id"))
        .agg(F.min("ts").alias("iv_start"))
        .withColumn("iv_end", F.col("iv_start") + F.expr(f"INTERVAL {IV_MINUTES} MINUTES"))
    )
    pts = ev.select("event_id", "ts", "value")
    joined = interval_join(
        pts, iv, "ts", "iv_start", "iv_end", bin_seconds=IV_BIN_SECONDS, how="right"
    )
    micros = F.round(F.col("value") * 1_000_000, 0).cast("long")
    return joined.groupBy("iv_id").agg(
        F.count("event_id").alias("n_events"),
        F.round(F.sum(micros) / 1_000_000.0, 4).alias("total_value"),
    )


def q_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: for every event, the count and value
    sum over the same user's events in the trailing hour (RANGE BETWEEN
    3600 PRECEDING AND CURRENT ROW over epoch seconds) — the trailing-
    aggregate shape of rolling rate limits and activity scores.

    Distinct from every ROWS-frame query in the workload: the frame is
    bounded by the ORDER BY *value* distance, not a row count, and
    equal-timestamp peers all enter the frame.  One shuffle on user_id.
    The summed value is quantized to integer cents (round-half-away on
    both engines) so the sliding-window sum is exact integer math —
    engines disagree on FP summation order inside segment-tree window
    implementations, integer sums have one answer."""
    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.expr("unix_micros(ts) DIV 1000000").alias("es"),
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-3600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_trailing_hour"),
        F.sum("cents").over(w).alias("cents_trailing_hour"),
    )


def q_user_event_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    aggs = [
        F.sum((F.col("event_type") == t).cast("long")).alias(f"n_{t}")
        for t in EVENT_TYPES
    ]
    return _events(spark, sf_dir).groupBy("user_id").agg(*aggs)


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract the numeric `k` property from the JSON props column."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        _events(spark, sf_dir)
        .select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").alias("max_k"),
        )
    )


def q_asof_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (engine-added operator, SURVEY §2.4): each purchase
    matched to the user's most recent view at-or-before it."""
    from semantic_similarity_system_using_aws_mapreduce_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", "ts", "value"
    )
    out = asof_join(
        purchases, views,
        on="user_id", left_time="ts", right_time="ts",
        value_cols=["event_id", "value"], right_tiebreak="event_id",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_event_id").alias("view_event_id"),
        F.round("asof_value", 6).alias("view_value"),
    )


SEQ_CTX = 3  # events of user history per training example


def q_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-training-example construction from the event log: for
    every event with at least {SEQ_CTX} predecessors, emit
    (event_id, user_id, context, label) where ``context`` is the
    user's previous {SEQ_CTX} event types in time order — the
    next-event-prediction layout a behavioral/recommendation model
    trains on, built as ONE window pass (no self-joins: a join-based
    k-predecessor lookup would shuffle the log k times; the frame
    ``ROWS BETWEEN k PRECEDING AND 1 PRECEDING`` does it in the single
    per-user sort the sessionization queries already pay).  Ties on
    ``ts`` break by event_id, so frame contents — and therefore the
    collected sequence — are deterministic cross-engine."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-SEQ_CTX, -1)
    )
    return (
        _events(spark, sf_dir)
        .select(
            "event_id",
            "user_id",
            F.count("*").over(w).alias("_n_ctx"),
            F.concat_ws(">", F.collect_list("event_type").over(w)).alias("context"),
            F.col("event_type").alias("label"),
        )
        .filter(F.col("_n_ctx") == SEQ_CTX)
        .drop("_n_ctx")
    )


def q_conversion_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-step conversion funnel (view -> click AFTER the first
    view -> purchase AFTER that click): per-step user counts and
    conversion rates in one row.  "Ordered" is the point — a user who
    clicked before ever viewing does not convert step 2, which is what
    separates a funnel from three independent COUNT DISTINCTs.

    Plan: each step is a per-user min-timestamp aggregation joined to
    the previous step's frontier; all three aggs and both joins key on
    user_id, so at 100 TB the chain is co-partitioned after the first
    exchange (AQE reuses it) and nothing is ever ordered globally —
    the window-sort formulation would sort every user's full history
    instead of folding it to one timestamp per step.

    The v and c frontiers are persisted: each is consumed twice (the
    next step's join AND its own count), and without the persists the
    earlier steps' scans and aggregations recompute whole per arm."""
    from pyspark import StorageLevel

    ev = _events(spark, sf_dir)
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    return (
        v.agg(F.count("*").alias("n_view"))
        .crossJoin(c.agg(F.count("*").alias("n_view_click")))
        .crossJoin(p.agg(F.count("*").alias("n_full_funnel")))
        .select(
            "n_view",
            "n_view_click",
            "n_full_funnel",
            F.round(F.col("n_view_click") / F.col("n_view"), 6).alias("click_rate"),
            F.round(F.col("n_full_funnel") / F.col("n_view"), 6).alias(
                "purchase_rate"
            ),
        )
    )


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by signup week, counted
    once per later week they were active — the (cohort_week,
    week_offset, n_active) triangle every growth dashboard draws.

    Weeks are integer epoch-week indexes (unix seconds div 604800),
    NOT calendar truncations: date_trunc week conventions and
    timezone rules differ across engines, while integer division of
    the UTC-pinned epoch has exactly one answer (the same reasoning
    as the events readers' micros quantization).

    Plan: per-user signup week is one agg; per-(user, week) activity
    is one distinct agg; both key user_id, the join is co-partitioned,
    and the final rollup is keyed by the (cohort, offset) pair — no
    global sort, nothing per-user beyond its own rows."""
    ev = _events(spark, sf_dir)
    # `div`, not `/` + cast: float division near a week boundary could
    # round across it; integer division has one answer in every engine
    week = F.expr("unix_timestamp(ts) div 604800")
    signup = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(week).alias("cohort_week"))
    )
    active = ev.select("user_id", week.alias("week")).distinct()
    return (
        active.join(signup, "user_id")
        .filter(F.col("week") >= F.col("cohort_week"))
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count("*").alias("n_active"))
    )


ANOMALY_Z = 3.0  # the classic Iglewicz-Hoaglin modified-z cutoff ~3.5
# is tuned for near-normal data; the fixture's value column is heavy-
# tailed enough that 3.0 yields a stable non-empty anomaly set


def q_event_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection: the modified z-score
    0.6745*(value - median)/MAD (Iglewicz & Hoaglin 1993) flags events
    whose value sits far outside their event_type's distribution —
    median/MAD instead of mean/stddev so the outliers being hunted
    cannot mask themselves by inflating the threshold.

    Plan: two grouped exact-percentile aggregates (one shuffle on
    event_type each — at 100 TB swap percentile for approx_percentile,
    semantics preserved) with the per-type statistics broadcast back
    onto the scan; the flagging pass is map-side.  Cross-engine
    exactness: median and MAD are rounded to 6 dp on both engines
    before the z arithmetic (the q_quality_gate recipe), and the z
    expression mirrors op order, so the >= gate cannot flip."""
    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    med = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(ad, 0.5)"), 6).alias("mad")
    )
    rz = F.lit(0.6745) * (F.col("value") - F.col("med")) / F.col("mad")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(rz) >= ANOMALY_Z))
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value"),
            F.round(rz, 6).alias("robust_z"),
        )
    )


QUERIES = {
    "q_event_anomalies": q_event_anomalies,
    "q_cohort_retention": q_cohort_retention,
    "q_conversion_funnel": q_conversion_funnel,
    "q_asof_view_before_purchase": q_asof_view_before_purchase,
    "q_hourly_event_stats": q_hourly_event_stats,
    "q_interval_join": q_interval_join,
    "q_range_frame": q_range_frame,
    "q_sessionization": q_sessionization,
    "q_user_event_pivot": q_user_event_pivot,
    "q_json_props": q_json_props,
    "q_event_sequences": q_event_sequences,
}

ORACLES = {
    "q_event_anomalies": f"""
        WITH e AS (SELECT event_id, event_type, value FROM events),
        med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med
                FROM e GROUP BY 1),
        dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
                       abs(e.value - m.med) AS ad
                FROM e JOIN med m USING (event_type)),
        mad AS (SELECT event_type, round(quantile_cont(ad, 0.5), 6) AS mad
                FROM dev GROUP BY 1)
        SELECT d.event_id, d.event_type,
               round(d.value, 6) AS value,
               round(0.6745 * (d.value - d.med) / m.mad, 6) AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE m.mad > 0
          AND abs(0.6745 * (d.value - d.med) / m.mad) >= {ANOMALY_Z}
    """,
    "q_cohort_retention": """
        WITH w AS (SELECT user_id, event_type,
                          floor(epoch(ts))::BIGINT // 604800 AS week
                   FROM events),
        signup AS (SELECT user_id, min(week) AS cohort_week
                   FROM w WHERE event_type = 'signup' GROUP BY 1),
        active AS (SELECT DISTINCT user_id, week FROM w)
        SELECT cohort_week, (week - cohort_week) AS week_offset,
               count(*)::BIGINT AS n_active
        FROM active JOIN signup USING (user_id)
        WHERE week >= cohort_week
        GROUP BY 1, 2
    """,
    "q_conversion_funnel": """
        WITH v AS (SELECT user_id, min(ts) AS t1 FROM events
                   WHERE event_type = 'view' GROUP BY 1),
        c AS (SELECT e.user_id, min(e.ts) AS t2
              FROM events e JOIN v USING (user_id)
              WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY 1),
        p AS (SELECT e.user_id, min(e.ts) AS t3
              FROM events e JOIN c USING (user_id)
              WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY 1)
        SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
               (SELECT count(*) FROM c)::BIGINT AS n_view_click,
               (SELECT count(*) FROM p)::BIGINT AS n_full_funnel,
               round((SELECT count(*) FROM c) * 1.0
                     / (SELECT count(*) FROM v), 6) AS click_rate,
               round((SELECT count(*) FROM p) * 1.0
                     / (SELECT count(*) FROM v), 6) AS purchase_rate
    """,
    "q_asof_view_before_purchase": """
        SELECT p.event_id, p.user_id,
               (SELECT v.event_id FROM events v
                WHERE v.user_id = p.user_id AND v.event_type = 'view'
                  AND v.ts <= p.ts
                ORDER BY v.ts DESC, v.event_id DESC LIMIT 1) AS view_event_id,
               round((SELECT v.value FROM events v
                      WHERE v.user_id = p.user_id AND v.event_type = 'view'
                        AND v.ts <= p.ts
                      ORDER BY v.ts DESC, v.event_id DESC LIMIT 1), 6) AS view_value
        FROM events p WHERE p.event_type = 'purchase'
    """,
    "q_hourly_event_stats": """
        SELECT hour, event_type, n,
               round(sm / 1000000.0, 4) AS sum_value,
               round(sm / 1000000.0 / n, 6) AS avg_value
        FROM (SELECT date_trunc('hour', ts) AS hour, event_type,
                     count(*) AS n,
                     sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS sm
              FROM events GROUP BY 1, 2)
    """,
    "q_interval_join": f"""
        WITH iv AS (
            SELECT user_id AS iv_id, min(ts) AS iv_start,
                   min(ts) + INTERVAL {IV_MINUTES} MINUTE AS iv_end
            FROM events WHERE user_id < {IV_USERS} GROUP BY user_id)
        SELECT iv_id,
               count(ev.event_id) AS n_events,
               round(sum(CAST(round(ev.value * 1000000, 0) AS BIGINT)) / 1000000.0, 4)
                   AS total_value
        FROM iv LEFT JOIN events ev
          ON ev.ts >= iv.iv_start AND ev.ts < iv.iv_end
        GROUP BY iv_id
    """,
    "q_range_frame": """
        SELECT event_id, user_id,
               count(*) OVER w AS n_trailing_hour,
               -- CAST: DuckDB widens window sum(BIGINT) to HUGEINT, which
               -- the type-sensitive driver hash rejects against Spark's bigint.
               CAST(sum(cents) OVER w AS BIGINT) AS cents_trailing_hour
        FROM (SELECT event_id, user_id,
                     epoch_us(ts) // 1000000 AS es,
                     CAST(round(value * 100, 0) AS BIGINT) AS cents
              FROM events)
        WINDOW w AS (PARTITION BY user_id ORDER BY es
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
    """,
    "q_sessionization": f"""
        WITH g AS (
            SELECT user_id, value,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
            FROM events)
        SELECT user_id,
               -- count(*) FILTER keeps BIGINT; sum(CASE ...) is HUGEINT in
               -- DuckDB and trips the type-sensitive driver hash.
               count(*) FILTER (WHERE gap_us IS NULL
                         OR gap_us > {SESSION_GAP_MINUTES} * 60 * 1000000
                        ) AS n_sessions,
               count(*) AS n_events,
               round(sum(CAST(round(value * 1000000, 0) AS BIGINT)) / 1000000.0, 4)
                   AS total_value
        FROM g GROUP BY user_id
    """,
    "q_user_event_pivot": """
        -- count(*) FILTER keeps BIGINT; sum(CASE ...) is HUGEINT in DuckDB
        -- and trips the type-sensitive driver hash.
        SELECT user_id,
               count(*) FILTER (WHERE event_type = 'click') AS n_click,
               count(*) FILTER (WHERE event_type = 'view') AS n_view,
               count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
               count(*) FILTER (WHERE event_type = 'error') AS n_error
        FROM events GROUP BY user_id
    """,
    "q_json_props": """
        SELECT event_type,
               count(k) AS n_with_k,
               round(avg(k), 6) AS avg_k,
               max(k) AS max_k
        FROM (SELECT event_type,
                     CAST(regexp_extract(props, '"k":\\s*([0-9]+)', 1) AS BIGINT) AS k
              FROM events)
        GROUP BY event_type
    """,
    "q_event_sequences": f"""
        SELECT event_id, user_id, context, label FROM (
            SELECT event_id, user_id,
                   count(*) OVER w AS n_ctx,
                   string_agg(event_type, '>') OVER w AS context,
                   event_type AS label
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN {SEQ_CTX} PRECEDING AND 1 PRECEDING))
        WHERE n_ctx = {SEQ_CTX}
    """,
}
