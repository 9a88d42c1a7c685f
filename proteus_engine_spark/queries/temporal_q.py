"""Temporal-join and sink/iteration queries."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from proteus_engine_spark.operators.temporal import as_of_join, range_join
from proteus_engine_spark.queries.registry import register
from proteus_engine_spark.sources import load_table


@register(
    "asof_join_events",
    oracle="""
    WITH purchases AS (
      SELECT user_id, event_id, ts, value FROM events WHERE event_type = 'purchase'
    ), signups AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'signup'
    )
    SELECT p.user_id, p.event_id, p.value,
           s.value AS last_signup_value
    FROM purchases p ASOF LEFT JOIN signups s
      ON p.user_id = s.user_id AND s.ts <= p.ts
    """,
    tags=("temporal", "join"),
)
def asof_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (point-in-time lookup): for each purchase, the value of
    the user's latest signup at or before it. Implemented with the
    union-tag + last(ignorenulls) window — one shuffle, no pandas.
    Oracle: DuckDB's native ASOF JOIN."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts", "value"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", "ts", F.col("value").alias("signup_value")
    )
    out = as_of_join(
        purchases, signups, key="user_id", left_ts="ts", right_ts="ts",
        right_vals=["signup_value"],
    )
    return out.select(
        "user_id", "event_id", "value", F.col("signup_value").alias("last_signup_value")
    )


@register(
    "range_join_events",
    oracle="""
    SELECT e.event_id AS error_id, v.event_id AS view_id, e.user_id
    FROM events e JOIN events v
      ON e.user_id = v.user_id
     AND e.event_type = 'error' AND v.event_type = 'view'
     AND v.ts >= e.ts - INTERVAL 5 MINUTE
     AND v.ts <= e.ts + INTERVAL 5 MINUTE
    """,
    tags=("temporal", "join"),
)
def range_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch range join: views within ±5 minutes of each error, same user."""
    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), "user_id", F.col("ts").alias("e_ts")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("event_id").alias("view_id"), F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts")
    )
    return range_join(
        errors, views, F.col("user_id") == F.col("v_user"), "e_ts", "v_ts",
        lower="5 minutes", upper="5 minutes",
    ).select("error_id", "view_id", "user_id")


@register(
    "events_funnel_conversion",
    oracle="""
    WITH s AS (SELECT user_id, min(ts) AS s_ts FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    v AS (SELECT e.user_id, min(e.ts) AS v_ts
          FROM events e JOIN s ON s.user_id = e.user_id AND e.ts > s.s_ts
          WHERE e.event_type = 'view' GROUP BY e.user_id),
    v7 AS (SELECT v.user_id, v.v_ts FROM v JOIN s USING (user_id)
           WHERE v.v_ts <= s.s_ts + INTERVAL 7 DAY),
    p AS (SELECT e.user_id, min(e.ts) AS p_ts
          FROM events e JOIN v7 ON v7.user_id = e.user_id AND e.ts > v7.v_ts
          WHERE e.event_type = 'purchase' GROUP BY e.user_id),
    p7 AS (SELECT p.user_id FROM p JOIN s USING (user_id)
           WHERE p.p_ts <= s.s_ts + INTERVAL 7 DAY),
    c AS (SELECT (SELECT count(*) FROM s) AS c1,
                 (SELECT count(*) FROM v7) AS c2,
                 (SELECT count(*) FROM p7) AS c3)
    SELECT CAST(1 AS BIGINT) AS step, 'signup' AS step_name,
           CAST(c1 AS BIGINT) AS n_users, round(1.0, 6) AS conversion FROM c
    UNION ALL
    SELECT 2, 'view', CAST(c2 AS BIGINT), round(c2 * 1.0 / c1, 6) FROM c
    UNION ALL
    SELECT 3, 'purchase', CAST(c3 AS BIGINT), round(c3 * 1.0 / c1, 6) FROM c
    """,
    tags=("temporal", "analytics"),
)
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis — the classic product-analytics query: of
    the users who signed up, how many then VIEWED (strictly after their
    first signup) and then PURCHASED (strictly after that first
    qualifying view), each within 7 days of the signup anchor. Step
    timestamps are per-user min-aggregates chained by user-keyed joins —
    the ORDER constraint lives in the join predicates (ts > prior step),
    never in a per-user sort; three user-keyed shuffles total,
    horizon arithmetic in portable INTERVAL math. Returns one row per
    step (step, step_name, n_users, conversion vs step 1)."""
    ev = load_table(spark, sf_dir, "events")
    # Pin each funnel step's per-user frame once: the step chain
    # references s 4x and v7 2x, and with lazy frames every reference
    # re-expands its whole upstream (the r17 scan audit read events 9x in
    # this plan). Pinned, the query scans events exactly once per event
    # type; the pinned frames are user-cardinality, not event-cardinality.
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
        .localCheckpoint(eager=True)
    )
    v = (
        ev.filter(F.col("event_type") == "view")
        .join(s, "user_id")
        .filter(F.col("ts") > F.col("s_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    v7 = (
        v.join(s, "user_id")
        .filter(F.col("v_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAY"))
        .select("user_id", "v_ts")
        .localCheckpoint(eager=True)
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .join(v7, "user_id")
        .filter(F.col("ts") > F.col("v_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    p7 = p.join(s, "user_id").filter(
        F.col("p_ts") <= F.col("s_ts") + F.expr("INTERVAL 7 DAY")
    )
    counts = (
        s.agg(F.count(F.lit(1)).alias("c1"))
        .crossJoin(v7.agg(F.count(F.lit(1)).alias("c2")))
        .crossJoin(p7.agg(F.count(F.lit(1)).alias("c3")))
    )
    steps = counts.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(1).cast("long").alias("step"),
                    F.lit("signup").alias("step_name"),
                    F.col("c1").alias("n_users"),
                    F.round(F.lit(1.0), 6).alias("conversion"),
                ),
                F.struct(
                    F.lit(2).cast("long").alias("step"),
                    F.lit("view").alias("step_name"),
                    F.col("c2").alias("n_users"),
                    F.round(F.col("c2") * 1.0 / F.col("c1"), 6).alias("conversion"),
                ),
                F.struct(
                    F.lit(3).cast("long").alias("step"),
                    F.lit("purchase").alias("step_name"),
                    F.col("c3").alias("n_users"),
                    F.round(F.col("c3") * 1.0 / F.col("c1"), 6).alias("conversion"),
                ),
            )
        ).alias("r")
    )
    return steps.select("r.step", "r.step_name", "r.n_users", "r.conversion")


@register(
    "events_cohort_retention",
    oracle="""
    WITH wk AS (SELECT user_id,
                       date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
                         AS week
                FROM events),
    first_wk AS (SELECT user_id, min(week) AS cohort_week FROM wk GROUP BY user_id),
    active AS (SELECT DISTINCT user_id, week FROM wk)
    SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
           CAST(count(*) AS BIGINT) AS n_active
    FROM active a JOIN first_wk f USING (user_id)
    GROUP BY f.cohort_week, a.week - f.cohort_week
    """,
    tags=("temporal", "analytics"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention — the other canonical product-analytics rollup:
    users cohorted by the week of their first event (weeks = whole
    7-day blocks since a fixed epoch anchor — never date_trunc, whose
    week-start convention differs by engine). The division is FLOOR on
    both sides: DuckDB's ``//`` floors, so the Spark side uses
    F.floor(datediff/7) rather than ``div`` (which truncates toward
    zero and would diverge for any event before the anchor — r13
    advice; latent today only because the generator starts exactly at
    the anchor); each (cohort_week, week_offset) cell
    counts the cohort's users active that week. Active weeks are a
    distinct (user, week) aggregate, so the count is a plain count —
    no streaming-hostile COUNT DISTINCT; two user-keyed shuffles."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.select(
        "user_id",
        F.floor(
            F.expr("datediff(to_date(ts), DATE '2024-01-01')") / 7
        ).alias("week"),
    )
    # Pin the distinct (user, week) frame once and derive the cohort week
    # from it (min over distinct weeks == min over all weeks): lazily the
    # first-week aggregate and the active frame each re-ran the events
    # scan (r17 scan audit: events 2x in this plan; 1x after). User-week
    # cardinality rows only.
    active = wk.distinct().localCheckpoint(eager=True)
    first_wk = active.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        active.join(first_wk, "user_id")
        .select(
            "cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset")
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@register(
    "events_sessionize",
    oracle="""
    WITH o AS (
      SELECT user_id, event_id, ts,
             lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events),
    flags AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_ts IS NULL
                       OR date_diff('second', prev_ts, ts) > 1800
                  THEN 1 ELSE 0 END AS new_session
      FROM o),
    sess AS (
      SELECT user_id, event_id,
             sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id
                ROWS UNBOUNDED PRECEDING) AS session_seq
      FROM flags)
    SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(min(event_id) AS BIGINT) AS first_event,
           CAST(max(event_id) AS BIGINT) AS last_event
    FROM sess GROUP BY user_id, session_seq
    """,
    tags=("temporal", "analytics"),
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization — the gap-based session assignment every
    analytics warehouse runs (the batch twin of the streaming session
    window gate): a new session starts when a user's gap to the previous
    event exceeds 30 minutes; session ids are the running count of
    session starts. Both windows partition BY USER — per-partition work
    is bounded by a single user's history (thousands of rows), the
    canonical well-partitioned window (the banned shape is the
    UNPARTITIONED data-cardinality window). Ties on ts break by
    event_id in both engines. Returns per-session rollups."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flags = ev.withColumn(
        "new_session",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > 1800),
            1,
        ).otherwise(0),
    )
    sess = flags.withColumn(
        "session_seq",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return sess.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


@register(
    "events_transition_matrix",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             lead(event_type) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events),
    pairs AS (SELECT event_type AS from_type, next_type AS to_type
              FROM o WHERE next_type IS NOT NULL),
    c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM pairs GROUP BY from_type, to_type),
    t AS (SELECT from_type, sum(n) AS row_total FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           round(c.n * 1.0 / t.row_total, 6) AS p
    FROM c JOIN t USING (from_type)
    """,
    tags=("temporal", "analytics"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-path analysis: the first-order Markov transition matrix
    over per-user event sequences — which action follows which (the
    behavioral fingerprint behind next-step prediction and anomaly
    triage). Consecutive pairs come from a USER-partitioned lead
    (bounded per-partition work), the matrix is an (enum × enum) count,
    and row-normalized probabilities are single exact-integer divisions
    rounded at 1e-6. Ties on ts break by event_id in both engines."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .select(F.col("event_type").alias("from_type"), F.col("next_type").alias("to_type"))
    )
    # Pin the enum x enum transition counts once — lazily the row-total
    # rollup re-ran the whole per-user window pass (r17 scan audit:
    # events 2x in this plan; 1x after).
    c = (
        pairs.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    t = c.groupBy("from_type").agg(F.sum("n").alias("row_total"))
    return (
        c.join(F.broadcast(t), "from_type")
        .select(
            "from_type",
            "to_type",
            "n",
            F.round(F.col("n") * 1.0 / F.col("row_total"), 6).alias("p"),
        )
    )


@register(
    "events_rfm_scores",
    oracle="""
    WITH pur AS (SELECT user_id, ts, CAST(round(value * 100, 0) AS BIGINT) AS cents
                 FROM events WHERE event_type = 'purchase'),
    anchor AS (SELECT max(ts) AS a FROM pur),
    rfm AS (SELECT user_id,
                   CAST(date_diff('day', CAST(max(ts) AS DATE),
                                  CAST(anchor.a AS DATE)) AS BIGINT)
                     AS recency_days,
                   CAST(count(*) AS BIGINT) AS frequency,
                   CAST(sum(cents) AS BIGINT) AS monetary_cents
            FROM pur CROSS JOIN anchor GROUP BY user_id, anchor.a),
    cuts AS (SELECT quantile_cont(-recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
                    quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
                    quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mc
             FROM rfm)
    SELECT user_id, recency_days, frequency, monetary_cents,
           CAST(len(list_filter(rc, c -> c < -recency_days)) + 1 AS INT) AS r_score,
           CAST(len(list_filter(fc, c -> c < frequency)) + 1 AS INT) AS f_score,
           CAST(len(list_filter(mc, c -> c < monetary_cents)) + 1 AS INT) AS m_score
    FROM rfm CROSS JOIN cuts
    """,
    tags=("temporal", "analytics"),
)
def events_rfm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — recency / frequency / monetary quintile scores
    per purchasing user (5 = best on every axis; recency scores over the
    NEGATED day count so the most recent buyers land in quintile 5).
    Monetary is exact integer cents (round(value·100) before the sum —
    the exact-cents discipline). All three quintile cut-point arrays
    come from ONE 1-row percentile aggregate broadcast back (the
    quality_buckets discipline — never ntile, which is an unpartitioned
    user-cardinality sort); scores are per-row strict-< cut counts,
    mirrored exactly in the oracle."""
    ev = load_table(spark, sf_dir, "events")
    pur = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    anchor = pur.agg(F.max("ts").alias("a"))
    rfm = (
        pur.crossJoin(F.broadcast(anchor))
        .groupBy("user_id", "a")
        .agg(
            F.datediff(F.to_date(F.max("a")), F.to_date(F.max("ts")))
            .cast("long")
            .alias("recency_days"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
        .drop("a")
        # Pin the per-user RFM frame once: it feeds both the cut-point
        # aggregate and the scored output, and lazily each reference
        # re-ran the purchase scan + anchor + aggregate (r17 scan audit:
        # events 4x in this plan; 2x after — the anchor pass is the
        # inherent remainder). User-cardinality rows only.
        .localCheckpoint(eager=True)
    )
    qs = F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])
    cuts = rfm.agg(
        F.percentile(-F.col("recency_days"), qs).alias("rc"),
        F.percentile(F.col("frequency"), qs).alias("fc"),
        F.percentile(F.col("monetary_cents"), qs).alias("mc"),
    )
    return rfm.crossJoin(F.broadcast(cuts)).select(
        "user_id",
        "recency_days",
        "frequency",
        "monetary_cents",
        (F.expr("size(filter(rc, c -> c < -recency_days))") + 1)
        .cast("int")
        .alias("r_score"),
        (F.expr("size(filter(fc, c -> c < frequency))") + 1)
        .cast("int")
        .alias("f_score"),
        (F.expr("size(filter(mc, c -> c < monetary_cents))") + 1)
        .cast("int")
        .alias("m_score"),
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_type, e.value, m.med, abs(e.value - m.med) AS ad
            FROM events e JOIN med m USING (event_type)),
    mad AS (SELECT event_type, quantile_cont(ad, 0.5) AS mad
            FROM dev GROUP BY event_type)
    SELECT d.event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN d.ad > 3 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_anomalies,
           round(max(d.med), 6) AS med,
           round(max(m.mad), 6) AS mad
    FROM dev d JOIN mad m USING (event_type)
    GROUP BY d.event_type
    """,
    tags=("temporal", "analytics", "quality"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly counting per event type — median absolute
    deviation, the outlier flag that mean/stddev z-scores can't give on
    heavy-tailed value distributions (the mean follows the outliers; the
    median doesn't). Two exact-percentile aggregates (median, then MAD
    over absolute deviations) with enum-sized broadcast joins between —
    never a per-type window; the > 3·MAD comparison is the same IEEE
    double arithmetic in both engines (Spark `percentile` ≡ DuckDB
    `quantile_cont` interpolation, the established parity)."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    # Pin the enum-sized per-type median once: `dev` below is expanded
    # twice (MAD aggregate + verdict aggregate) and each lazy expansion
    # re-ran the median's own events pass (r17 scan audit: events 4x in
    # this plan; 3x after — median pass, MAD pass, verdict pass are the
    # algorithm's inherent three).
    med = (
        ev.groupBy("event_type")
        .agg(F.percentile("value", F.lit(0.5)).alias("med"))
        .localCheckpoint(eager=True)
    )
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "ad", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("ad", F.lit(0.5)).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("ad") > 3 * F.col("mad"), 1).otherwise(0)
            ).alias("n_anomalies"),
            F.round(F.max("med"), 6).alias("med"),
            F.round(F.max("mad"), 6).alias("mad"),
        )
    )


@register(
    "events_value_histogram",
    oracle="""
    WITH b AS (SELECT event_type, min(value) AS lo, max(value) AS hi
               FROM events GROUP BY event_type),
    binned AS (
      SELECT e.event_type,
             CAST(least(floor((e.value - b.lo) / ((b.hi - b.lo) / 10.0)), 9)
                  AS BIGINT) AS bin
      FROM events e JOIN b USING (event_type))
    SELECT event_type, bin, CAST(count(*) AS BIGINT) AS n
    FROM binned GROUP BY event_type, bin
    """,
    tags=("temporal", "analytics", "profile"),
)
def events_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width value histograms per event type — the
    distribution profile behind every warehouse column-stats panel (the
    exact counterpart of Spark's approximate histogram_numeric, which is
    engine-specific and unverifiable). Ten bins spanning [min, max] per
    type; the max value clamps into the last bin (least(…, 9) — the
    right-edge convention, mirrored in the oracle). Per-type min/max is
    one enum-sized aggregate broadcast back; binning is a scan-rate
    expression and the histogram is one (type, bin) count. The bin
    arithmetic is identical IEEE double math in both engines."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    b = ev.groupBy("event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    return (
        ev.join(F.broadcast(b), "event_type")
        .select(
            "event_type",
            F.least(
                F.floor((F.col("value") - F.col("lo")) / ((F.col("hi") - F.col("lo")) / 10.0)),
                F.lit(9),
            ).cast("long").alias("bin"),
        )
        .groupBy("event_type", "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@register(
    "events_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id,
                       date_diff('day', DATE '2024-01-01', CAST(ts AS DATE))
                         AS day
                FROM events),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
    w AS (SELECT DISTINCT user_id, day + off AS tday
          FROM ud, unnest(generate_series(0, 6)) AS t(off)),
    wau AS (SELECT tday AS day, CAST(count(*) AS BIGINT) AS wau
            FROM w GROUP BY tday),
    m AS (SELECT DISTINCT user_id, day + off AS tday
          FROM ud, unnest(generate_series(0, 29)) AS t(off)),
    mau AS (SELECT tday AS day, CAST(count(*) AS BIGINT) AS mau
            FROM m GROUP BY tday)
    SELECT dau.day, dau.dau, wau.wau, mau.mau
    FROM dau JOIN wau USING (day) JOIN mau USING (day)
    """,
    tags=("temporal", "analytics"),
)
def events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement metrics — DAU / WAU / MAU per day (distinct
    users that day / in the trailing 7 / trailing 30 days), the
    canonical product-health rollup. The trailing-window distinct is
    NEVER a sliding window over users: each distinct (user, day) row
    explodes to its 7 (resp. 30) contributing target days — a
    CONSTANT-bounded explode — and de-duplicates per target day, so
    every count is a plain distinct-frame count and the shuffles are
    (user, day)-keyed. Days are whole blocks since the fixed epoch
    anchor (the cohort-retention arithmetic); output rows are days with
    at least one event (the DAU join prunes phantom trailing days)."""
    ev = load_table(spark, sf_dir, "events")
    ud = (
        ev.select(
            "user_id",
            F.expr("datediff(to_date(ts), DATE '2024-01-01')")
            .cast("long")
            .alias("day"),
        )
        .distinct()
        # Pin the distinct (user, day) frame once: DAU, WAU and MAU each
        # re-ran the full events scan + distinct lazily (r17 scan audit:
        # events 3x in this plan; 1x after). The frame is user-day
        # cardinality — the natural materialization for this rollup.
        .localCheckpoint(eager=True)
    )
    dau = ud.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def rolling(n: int, out: str) -> DataFrame:
        return (
            ud.select(
                "user_id",
                F.explode(F.sequence(F.lit(0), F.lit(n - 1))).alias("off"),
                "day",
            )
            .select("user_id", (F.col("day") + F.col("off")).alias("day"))
            .distinct()
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias(out))
        )

    return (
        dau.join(rolling(7, "wau"), "day")
        .join(rolling(30, "mau"), "day")
        .select("day", "dau", "wau", "mau")
    )


@register(
    "events_value_gini",
    oracle="""
    WITH c AS (SELECT event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents,
                      event_id
               FROM events),
    r AS (SELECT event_type, cents,
                 row_number() OVER (PARTITION BY event_type
                                    ORDER BY cents, event_id) AS rk
          FROM c),
    s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS total_cents,
                 CAST(sum(rk * cents) AS BIGINT) AS weighted
          FROM r GROUP BY event_type)
    SELECT event_type, n, total_cents,
           round(2.0 * weighted / (n * total_cents) - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
    tags=("temporal", "analytics", "profile"),
)
def events_value_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-concentration profile: the Gini coefficient of each event
    type's value distribution — the inequality readout behind "do 1% of
    transactions carry 50% of the value" capacity and fraud questions.
    Values quantize to exact integer cents FIRST, so Σ rank·cents and
    the total are exact longs (accumulation-order-proof; only the final
    two-division formula is floating point, identical in both engines).
    Ranks are operators.partitioning.running_sum over one parallel range
    sort — never a data-cardinality window; (cents, event_id) ties break
    identically in both engines."""
    from proteus_engine_spark.operators.partitioning import running_sum

    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
        "event_id",
    )
    ordered = ev.orderBy("event_type", "cents", "event_id")
    ranked = running_sum(ordered, group="event_type", out="rk")
    return (
        ranked.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("total_cents"),
            F.sum((F.col("rk") + 1) * F.col("cents")).alias("weighted"),
        )
        .select(
            "event_type",
            "n",
            "total_cents",
            F.round(
                2.0 * F.col("weighted") / (F.col("n") * F.col("total_cents"))
                - (F.col("n") + 1.0) / F.col("n"),
                6,
            ).alias("gini"),
        )
    )


@register(
    "events_interarrival_stats",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type
                           ORDER BY ts, event_id) AS prev_ts
      FROM events),
    gaps AS (SELECT event_type,
                    date_diff('second', prev_ts, ts) AS gap_s
             FROM o WHERE prev_ts IS NOT NULL)
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
           round(quantile_cont(gap_s, 0.5), 6) AS median_gap_s,
           round(quantile_cont(gap_s, 0.95), 6) AS p95_gap_s
    FROM gaps GROUP BY event_type
    """,
    tags=("temporal", "analytics", "profile"),
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type inter-arrival profile: the median and p95 gap between a
    user's consecutive events of the same type — the cadence readout
    behind rate-limit tuning, session-gap calibration (feed the median
    into events_sessionize's threshold), and bot detection (machine
    cadence collapses the median). Gaps come from a (user, type)-
    partitioned lag — bounded per-partition work, the well-partitioned
    window shape — in whole integer seconds (exact longs); the
    percentiles are the established Spark percentile ≡ DuckDB
    quantile_cont parity over those integers, rounded at 1e-6."""
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")).alias("gap_s"),
        )
    )
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 6).alias("median_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.95)), 6).alias("p95_gap_s"),
    )
