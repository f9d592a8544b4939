"""Event-stream analytics shapes a training-data / product pipeline needs
beyond plain windows: ordered funnels, cohort retention, top-k per group,
and conditional-rate scans. All over the driver's ``events`` table
(TIMESTAMP_NANOS — must be read via session.load).

Determinism: ``value`` is a double, so money-style sums go through
DECIMAL(18,6); ratios are round(x, 6); ranked outputs carry a unique
tie-break key (user_id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import load, read_parquet
from .common import register

DEC6 = "decimal(18,6)"


# Ordered funnel: view -> click-after-view -> purchase-after-click.
# Each stage is a min-timestamp aggregate joined with a strict ts
# inequality — the relational twin of a stateful sequence matcher.

@register(
    "events_funnel",
    """WITH v AS (
  SELECT user_id, min(ts) AS t FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN v ON v.user_id = e.user_id AND e.ts > v.t
  WHERE e.event_type = 'click' GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t
  FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t
  WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'stage1_view' AS stage, (SELECT count(*) FROM v)::BIGINT AS users
UNION ALL SELECT 'stage2_click', (SELECT count(*) FROM c)::BIGINT
UNION ALL SELECT 'stage3_purchase', (SELECT count(*) FROM p)::BIGINT
ORDER BY stage""",
)
def q_events_funnel(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_buy"))
    )
    stages = [("stage1_view", v), ("stage2_click", c), ("stage3_purchase", p)]
    out = None
    for name, df in stages:
        row = df.agg(
            F.lit(name).alias("stage"), F.count("*").alias("users")
        )
        out = row if out is None else out.unionAll(row)
    return out.orderBy("stage")


# Cohort retention: users bucketed by first-seen day; day-1 / day-7
# return rates. Two-level aggregate over a self-join on activity days.

@register(
    "events_retention",
    """WITH first_seen AS (
  SELECT user_id, date_trunc('day', min(ts)) AS d0 FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
)
SELECT f.d0 AS cohort_day,
       count(DISTINCT f.user_id)::BIGINT AS cohort_size,
       count(DISTINCT CASE WHEN a.d = f.d0 + INTERVAL 1 DAY THEN f.user_id END)::BIGINT AS retained_d1,
       count(DISTINCT CASE WHEN a.d = f.d0 + INTERVAL 7 DAY THEN f.user_id END)::BIGINT AS retained_d7
FROM first_seen f JOIN activity a ON a.user_id = f.user_id
GROUP BY cohort_day ORDER BY cohort_day""",
)
def q_events_retention(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0")
    )
    activity = e.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(F.col("d0").alias("cohort_day"))
        .agg(
            F.countDistinct("user_id").alias("cohort_size"),
            F.countDistinct(
                F.when(
                    F.col("d") == F.col("d0") + F.expr("INTERVAL 1 DAY"),
                    F.col("user_id"),
                )
            ).alias("retained_d1"),
            F.countDistinct(
                F.when(
                    F.col("d") == F.col("d0") + F.expr("INTERVAL 7 DAY"),
                    F.col("user_id"),
                )
            ).alias("retained_d7"),
        )
        .orderBy("cohort_day")
    )


# Top-k per group: top-3 spenders per event type (dense window rank with
# a unique tie-break; exact DECIMAL sums keep rank stable across engines).

@register(
    "events_topk_per_group",
    """SELECT event_type, user_id, total_value, rk
FROM (
  SELECT event_type, user_id,
         CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY sum(CAST(value AS DECIMAL(18,6))) DESC, user_id) AS rk
  FROM events GROUP BY event_type, user_id
) t WHERE rk <= 3 ORDER BY event_type, rk""",
)
def q_events_topk_per_group(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        F.sum(F.col("value").cast(DEC6)).alias("_tv")
    )
    w = Window.partitionBy("event_type").orderBy(
        F.col("_tv").desc(), F.col("user_id")
    )
    return (
        per_user.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "event_type",
            "user_id",
            F.col("_tv").cast("double").alias("total_value"),
            "rk",
        )
        .orderBy("event_type", "rk")
    )


# Conditional-rate scan: daily error share — single-pass conditional
# aggregation, the streaming-dashboard shape as a batch query.

@register(
    "events_error_rate",
    """SELECT date_trunc('day', ts) AS day,
       count(*)::BIGINT AS n_events,
       sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_errors,
       round(CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*), 6) AS error_rate
FROM events GROUP BY day ORDER BY day""",
)
def q_events_error_rate(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    is_err = F.when(F.col("event_type") == "error", 1).otherwise(0)
    return (
        e.groupBy(F.date_trunc("day", "ts").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(is_err).alias("n_errors"),
            F.round(F.sum(is_err) / F.count("*"), 6).alias("error_rate"),
        )
        .orderBy("day")
    )


# As-of join (backward, inclusive): each purchase joined to the user's
# most recent click at or before it. Spark side is the union+running-last
# shape (operators/asof.py — one shuffle, no theta join); the oracle uses
# DuckDB's native ASOF LEFT JOIN. (user_id, ts) is unique per event type
# in this corpus, so the payload column is deterministic.

@register(
    "events_asof_lastclick",
    """SELECT p.user_id, p.event_id, p.ts AS p_ts,
       c.ts AS click_ts,
       round(CAST(c.value AS DECIMAL(18,6)), 6) + 0.0 AS click_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
ORDER BY p.user_id, p.event_id""",
)
def q_events_asof_lastclick(spark, sf_dir):
    from ..operators.asof import asof_join_backward

    e = load(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    res = asof_join_backward(
        purch,
        clicks,
        on=["user_id"],
        right_payload=("value",),
        tiebreak="event_id",
        out_ts="click_ts",
    )
    # inner-ASOF: purchases with no prior click are dropped (keeps the
    # result NULL-free for the value-hash compare)
    return (
        res.filter(F.col("click_ts").isNotNull())
        .select(
            "user_id",
            "event_id",
            F.col("ts").alias("p_ts"),
            "click_ts",
            (F.round(F.col("click_ts_value").cast(DEC6), 6) + 0.0).alias("click_value"),
        )
        .orderBy("user_id", "event_id")
    )


# Bounded range join: clicks in the hour before each purchase, counted.
# Spark side is the bucketed equi-join (operators/asof.py) — never a
# nested-loop; the oracle states the range condition directly.

@register(
    "events_range_prev_hour",
    """SELECT p.user_id, p.event_id,
       count(c.event_id)::BIGINT AS n_clicks_prev_hour
FROM events p
LEFT JOIN events c
  ON c.user_id = p.user_id AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts < p.ts
WHERE p.event_type = 'purchase'
GROUP BY p.user_id, p.event_id
ORDER BY p.user_id, p.event_id""",
)
def q_events_range_prev_hour(spark, sf_dir):
    from ..operators.asof import bucketed_range_join

    e = load(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", F.col("ts").alias("p_ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    joined = bucketed_range_join(
        purch, clicks, on=["user_id"], left_ts="p_ts", right_ts="c_ts",
        window_seconds=3600, bucket_seconds=3600,
    )
    counts = joined.groupBy("user_id", "event_id").agg(
        F.count("c_id").alias("n_clicks_prev_hour")
    )
    return (
        purch.join(counts, ["user_id", "event_id"], "left")
        .select(
            "user_id",
            "event_id",
            F.coalesce("n_clicks_prev_hour", F.lit(0)).alias("n_clicks_prev_hour"),
        )
        .orderBy("user_id", "event_id")
    )


# ROLLUP grouping sets: (day, type) -> (day) -> grand total in one pass.

@register(
    "events_rollup",
    """SELECT coalesce(date_trunc('day', ts), TIMESTAMP '1900-01-01') AS day,
       coalesce(event_type, '<all>') AS event_type,
       grouping(date_trunc('day', ts))::BIGINT AS g_day,
       grouping(event_type)::BIGINT AS g_type,
       count(*)::BIGINT AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events
GROUP BY ROLLUP(date_trunc('day', ts), event_type)
ORDER BY g_day, g_type, day, event_type""",
)
def q_events_rollup(spark, sf_dir):
    e = load(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", "ts")
    )
    return (
        e.rollup("day", "event_type")
        .agg(
            F.grouping("day").cast("bigint").alias("g_day"),
            F.grouping("event_type").cast("bigint").alias("g_type"),
            F.count("*").alias("n"),
            F.sum(F.col("value").cast(DEC6)).cast("double").alias("total_value"),
        )
        .select(
            F.coalesce("day", F.lit("1900-01-01").cast("timestamp")).alias("day"),
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            "g_day",
            "g_type",
            "n",
            "total_value",
        )
        .orderBy("g_day", "g_type", "day", "event_type")
    )


# RANGE-frame moving aggregate: per-user trailing 1-hour average of value.
# Frame bounds are exact integer microseconds on BOTH engines so the
# inclusive boundary never floats.

@register(
    "events_moving_avg",
    """SELECT user_id, event_id,
       round(avg(CAST(value AS DECIMAL(18,6)))
             OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
                   RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6)
         + 0.0 AS avg_1h
FROM events
ORDER BY user_id, event_id""",
)
def q_events_moving_avg(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        e.select(
            "user_id",
            "event_id",
            (F.round(F.avg(F.col("value").cast(DEC6)).over(w), 6) + 0.0).alias(
                "avg_1h"
            ),
        )
        .orderBy("user_id", "event_id")
    )


# Skew-safe aggregation: the salted two-phase aggregate MUST produce exactly
# the numbers a plain GROUP BY produces — the oracle here runs the plain
# form, proving salting is a pure execution-strategy change. event_type has
# ~5 hot values over every row: the canonical hot-key shape.

@register(
    "events_salted_agg",
    """SELECT event_type, count(*)::BIGINT AS n,
       CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM events GROUP BY event_type""",
)
def q_events_salted_agg(spark, sf_dir):
    from ..operators.skew import salted_count

    ev = load(spark, sf_dir, "events")
    out = salted_count(
        ev,
        ["event_type"],
        agg_cols={"total_value": F.sum(F.col("value").cast(DEC6))},
    )
    return out.select(
        "event_type", "n", F.col("total_value").cast("double").alias("total_value")
    )


# Gap-fill resampling: a per-user hourly grid between first and last event,
# forward-filled with the most recent observation — the alignment step
# every time-series feature pipeline needs and Spark has no built-in for.
# Shape: bounds aggregate -> sequence+explode grid (no driver loop) ->
# per-hour last observation (window) -> forward fill via
# last(ignoreNulls) over the grid. Two keyed shuffles (user, user+slot);
# state per user is one row — the batch twin of a stateful stream
# resampler. Sampled to user_id % 100 = 0 to keep the compare tractable.

@register(
    "events_resample_ffill",
    """WITH ev AS (
  SELECT user_id, ts, value, event_id FROM events WHERE user_id % 100 = 0
),
bounds AS (
  SELECT user_id, date_trunc('hour', min(ts)) AS h0, date_trunc('hour', max(ts)) AS h1
  FROM ev GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS slot
  FROM bounds
),
hourly AS (
  SELECT user_id, date_trunc('hour', ts) AS slot, value
  FROM ev
  QUALIFY row_number() OVER (
    PARTITION BY user_id, date_trunc('hour', ts)
    ORDER BY ts DESC, event_id DESC) = 1
)
SELECT g.user_id, g.slot,
       round(last_value(h.value IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.slot), 6) + 0.0 AS value
FROM grid g LEFT JOIN hourly h
  ON h.user_id = g.user_id AND h.slot = g.slot""",
)
def q_events_resample_ffill(spark, sf_dir):
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") % 100 == 0)
    bounds = ev.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("slot"),
    )
    w_last = Window.partitionBy(
        "user_id", F.date_trunc("hour", F.col("ts"))
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    hourly = (
        ev.withColumn("_rn", F.row_number().over(w_last))
        .filter(F.col("_rn") == 1)
        .select(
            "user_id", F.date_trunc("hour", F.col("ts")).alias("slot"), "value"
        )
    )
    w_fill = (
        Window.partitionBy("user_id")
        .orderBy("slot")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "slot"], "left")
        .select(
            "user_id",
            "slot",
            (F.round(F.last("value", ignorenulls=True).over(w_fill), 6) + 0.0).alias(
                "value"
            ),
        )
    )


# HyperLogLog distinct-user sketch built from relational primitives — the
# "novel sketch as a composition of built-ins" pattern (with the standard
# small-range linear-counting correction): a 60-bit md5-derived
# hash splits into 256 registers (low 8 bits) and a 52-bit suffix whose
# leading-zero count comes from length(bin(w)) — both engines share every
# step, so the ESTIMATE itself is oracle-exact (raw HLL, no small-range
# correction, documented). At 100 TB this is one partial+final aggregate:
# registers merge with max(), the classic mergeable-sketch property that
# exact countDistinct lacks.

@register(
    "events_hll_distinct",
    """WITH h AS (
  SELECT event_type,
         ('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT AS hv
  FROM events
),
reg AS (
  SELECT event_type, hv % 256 AS bucket,
         max(CASE WHEN hv // 256 = 0 THEN 53 ELSE 53 - length(bin(hv // 256)) END) AS rho
  FROM h GROUP BY event_type, bucket
),
est AS (
  SELECT event_type,
         sum(pow(2.0, -rho)) + (256 - count(*)) AS denom,
         256 - count(*) AS zeros
  FROM reg GROUP BY event_type
),
corrected AS (
  SELECT event_type,
         CASE WHEN 0.718 * 256 * 256 / denom <= 640 AND zeros > 0
              THEN 256 * ln(256.0 / zeros)
              ELSE 0.718 * 256 * 256 / denom END AS e
  FROM est
)
SELECT c.event_type,
       round(c.e, 6) + 0 AS hll_estimate,
       d.exact_distinct
FROM corrected c
JOIN (SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY event_type) d USING (event_type)
ORDER BY event_type""",
)
def q_events_hll_distinct(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    hv = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 15), 16, 10).cast(
        "long"
    )
    h = ev.select("event_type", hv.alias("hv"))
    reg = (
        # shiftright = exact integer division by 64 (floor(hv/64.0) would
        # round through double precision above 2^53 and can misplace w
        # across a power-of-2 boundary, flipping its bin-length)
        h.withColumn("bucket", F.col("hv") % 256)
        .withColumn("w", F.shiftright("hv", 8))
        .groupBy("event_type", "bucket")
        .agg(
            F.max(
                F.when(F.col("w") == 0, 53).otherwise(53 - F.length(F.bin("w")))
            ).alias("rho")
        )
    )
    est = reg.groupBy("event_type").agg(
        (F.sum(F.pow(F.lit(2.0), -F.col("rho"))) + (256 - F.count("*"))).alias("denom"),
        (256 - F.count("*")).alias("zeros"),
    )
    # standard small-range correction: raw HLL biases high below ~2.5m;
    # linear counting over the empty registers is exact-formula
    # deterministic, so both engines still agree bit-for-bit after round
    raw = 0.718 * 256 * 256 / F.col("denom")
    corrected = F.when(
        (raw <= 640) & (F.col("zeros") > 0),
        256 * F.log(256.0 / F.col("zeros")),
    ).otherwise(raw)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            (F.round(corrected, 6) + F.lit(0.0)).alias("hll_estimate"),
            "exact_distinct",
        )
        .orderBy("event_type")
    )


# Count-Min frequency sketch, same oracle-exact construction stance as the
# HLL entry: d=4 hash rows x w=4096 counters from md5-derived hashes, the
# per-key estimate is the min across rows (never under true count). The
# sketch build is one map-only explode + one aggregate into <= 16k cells
# — mergeable by cell-wise sum — and estimates join the tiny sketch
# broadcast-style. Keys sampled (user_id % 100 = 0) to keep the compare
# frame bounded.

@register(
    "events_countmin_freq",
    """WITH cells AS (
  SELECT i, ('0x' || substr(md5(i::VARCHAR || ':' || user_id::VARCHAR), 1, 15))::BIGINT % 4096 AS bucket,
         count(*)::BIGINT AS c
  FROM events, unnest([0, 1, 2, 3]) AS r(i)
  GROUP BY i, bucket
),
keys AS (
  SELECT user_id, count(*)::BIGINT AS true_count FROM events
  WHERE user_id % 100 = 0 GROUP BY user_id
),
est AS (
  SELECT k.user_id, k.true_count, min(c.c) AS cm_estimate
  FROM keys k
  JOIN cells c
    ON c.bucket = ('0x' || substr(md5(c.i::VARCHAR || ':' || k.user_id::VARCHAR), 1, 15))::BIGINT % 4096
  GROUP BY k.user_id, k.true_count
)
SELECT user_id, cm_estimate, true_count FROM est ORDER BY user_id""",
)
def q_events_countmin_freq(spark, sf_dir):
    ev = load(spark, sf_dir, "events")

    def bucket_of(i_col, key_col):
        return F.conv(
            F.substring(
                F.md5(F.concat(i_col.cast("string"), F.lit(":"), key_col.cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long") % 4096

    rows = ev.select("user_id", F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"))
    cells = (
        rows.withColumn("bucket", bucket_of(F.col("i"), F.col("user_id")))
        .groupBy("i", "bucket")
        .agg(F.count("*").alias("c"))
    )
    keys = (
        ev.filter(F.col("user_id") % 100 == 0)
        .groupBy("user_id")
        .agg(F.count("*").alias("true_count"))
    )
    probes = keys.select(
        "user_id",
        "true_count",
        F.explode(F.array(*[F.lit(i) for i in range(4)])).alias("i"),
    ).withColumn("bucket", bucket_of(F.col("i"), F.col("user_id")))
    return (
        probes.join(cells, ["i", "bucket"])
        .groupBy("user_id", "true_count")
        .agg(F.min("c").alias("cm_estimate"))
        .select("user_id", "cm_estimate", "true_count")
        .orderBy("user_id")
    )


# Hourly anomaly flags: per-type z-scores of hourly counts against the
# type's own mean/stddev — the monitoring query every event pipeline runs.
# Two aggregates + a broadcast of per-type stats; no window over raw rows.

@register(
    "events_hourly_anomalies",
    """WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*)::BIGINT AS n
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type, avg(n) AS mu, stddev_pop(n) AS sigma
  FROM hourly GROUP BY 1
)
SELECT h.event_type, h.hour, h.n,
       round((h.n - s.mu) / s.sigma, 6) + 0 AS z
FROM hourly h JOIN stats s USING (event_type)
WHERE s.sigma > 0 AND abs((h.n - s.mu) / s.sigma) >= 2.0
ORDER BY event_type, hour""",
)
def q_events_hourly_anomalies(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count("*").alias("n"))
    stats = hourly.groupBy("event_type").agg(
        F.avg("n").alias("mu"), F.stddev_pop("n").alias("sigma")
    )
    z = (F.col("n") - F.col("mu")) / F.col("sigma")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("sigma") > 0) & (F.abs(z) >= 2.0))
        .select(
            "event_type",
            "hour",
            "n",
            (F.round(z, 6) + F.lit(0.0)).alias("z"),
        )
        .orderBy("event_type", "hour")
    )


# ---------------------------------------------------------------------------
# Bloom-filter join pruning — the standard big-join optimization when the
# build side's KEY SET is small but the probe side is enormous: instead of
# shuffling the probe table into a semi-join, broadcast an m-bit Bloom
# filter of the build keys and pre-filter the probe map-side; only the
# (few, possibly-false-positive) survivors reach the exact join. Spark's
# own runtime row-group/bloom pruning is opaque to a cross-engine oracle,
# so the filter here is built from relational primitives with fixed md5
# hash functions — both engines reproduce the exact same bit set.
#
# Key = (user_id, hour-of-day) of purchase events; probe = distinct
# (user_id, hour) view pairs ("did this user buy in the hour they were
# browsing?"). m=8192, kh=3 keeps the filter unsaturated but with a real
# false-positive rate at every test SF, so the report demonstrates the
# approximation honestly: candidates >= true matches, and the exact join
# runs only on candidates.
#
# Scale posture (100 TB): bit table <= m rows -> broadcast; probing is a
# map-side explode of 3 positions + broadcast join + one per-key aggregate
# over probe keys (linear); the summary compares bloom candidates against
# ground truth from the exact semi-join on the SAME distinct key frame.

_BLOOM_M = 8192
_BLOOM_K = 3

def _bloom_sql_pos(j: int) -> str:
    return (
        f"('0x' || substr(md5(user_id::VARCHAR || ':' || hh::VARCHAR || ':{j}'),"
        f" 1, 8))::BIGINT % {_BLOOM_M}"
    )


@register(
    "events_bloom_prune",
    f"""WITH purch AS (
  SELECT DISTINCT user_id, extract(hour FROM ts)::BIGINT AS hh
  FROM events WHERE event_type = 'purchase'
),
views AS (
  SELECT DISTINCT user_id, extract(hour FROM ts)::BIGINT AS hh
  FROM events WHERE event_type = 'view'
),
bits AS (
  SELECT DISTINCT pos FROM purch,
       unnest([{_bloom_sql_pos(0)}, {_bloom_sql_pos(1)}, {_bloom_sql_pos(2)}]) AS u(pos)
),
probe AS (
  SELECT user_id, hh, unnest([{_bloom_sql_pos(0)}, {_bloom_sql_pos(1)}, {_bloom_sql_pos(2)}]) AS pos
  FROM views
),
hits AS (
  SELECT p.user_id, p.hh, count(b.pos)::BIGINT AS nhit
  FROM probe p LEFT JOIN bits b USING (pos)
  GROUP BY p.user_id, p.hh
),
truth AS (
  SELECT v.user_id, v.hh FROM views v SEMI JOIN purch USING (user_id, hh)
)
SELECT (SELECT count(*) FROM views)::BIGINT AS n_probe_keys,
       (SELECT count(*) FROM bits)::BIGINT AS n_bits_set,
       (SELECT count(*) FROM hits WHERE nhit = {_BLOOM_K})::BIGINT AS n_candidates,
       (SELECT count(*) FROM truth)::BIGINT AS n_true_matches,
       ((SELECT count(*) FROM hits WHERE nhit = {_BLOOM_K})
        - (SELECT count(*) FROM truth))::BIGINT AS n_false_positives""",
)
def q_events_bloom_prune(spark, sf_dir):
    m, kh = _BLOOM_M, _BLOOM_K

    def positions():
        return F.array(
            *[
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.col("user_id").cast("string"),
                                F.col("hh").cast("string"),
                                F.lit(str(j)),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % m
                for j in range(kh)
            ]
        )

    ev = load(spark, sf_dir, "events")
    keyed = ev.select(
        "event_type", "user_id", F.hour("ts").cast("long").alias("hh")
    )
    purch = keyed.filter(F.col("event_type") == "purchase").select(
        "user_id", "hh"
    ).distinct()
    views = keyed.filter(F.col("event_type") == "view").select(
        "user_id", "hh"
    ).distinct()
    bits = purch.select(F.explode(positions()).alias("pos")).distinct()
    probe = views.select("user_id", "hh", F.explode(positions()).alias("pos"))
    # the probe's own pos is never null after a left join — count a
    # build-side marker column, not the join key
    hits = (
        probe.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("user_id", "hh")
        .agg(F.count("hit").alias("nhit"))
    )
    n_candidates = hits.filter(F.col("nhit") == kh).agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    truth = views.join(purch, ["user_id", "hh"], "left_semi").agg(
        F.count("*").cast("long").alias("n_true_matches")
    )
    summary = (
        views.agg(F.count("*").cast("long").alias("n_probe_keys"))
        .crossJoin(bits.agg(F.count("*").cast("long").alias("n_bits_set")))
        .crossJoin(n_candidates)
        .crossJoin(truth)
    )
    return summary.select(
        "n_probe_keys",
        "n_bits_set",
        "n_candidates",
        "n_true_matches",
        (F.col("n_candidates") - F.col("n_true_matches")).alias(
            "n_false_positives"
        ),
    )


# ---------------------------------------------------------------------------
# Exact heavy hitters over bounded memory: Misra-Gries candidates per
# partition (O(k) state however large the input), then an exact recount of
# only the candidate keys. The two-pass split is what makes the answer
# EXACT and deterministic at any partitioning — MG alone returns
# partitioning-dependent estimates; the recount turns its no-false-negative
# guarantee into the precise "frequency > n/k" set the oracle can verify
# with a plain GROUP BY / HAVING.

@register(
    "events_heavy_hitters",
    """WITH ev AS (SELECT user_id FROM events WHERE user_id IS NOT NULL),
tot AS (SELECT count(*)::BIGINT AS n FROM ev)
SELECT user_id, count(*)::BIGINT AS cnt
FROM ev, tot
GROUP BY user_id, tot.n
HAVING count(*) * 125 > tot.n
ORDER BY cnt DESC, user_id""",
)
def q_events_heavy_hitters(spark, sf_dir):
    from ..operators.skew import heavy_hitters_exact

    ev = load(spark, sf_dir, "events")
    return heavy_hitters_exact(ev, "user_id", k=125)


# ---------------------------------------------------------------------------
# Event-type transition matrix (first-order Markov estimate) per user
# stream: P(next = b | cur = a) with transition counts — the sequence-
# analytics primitive behind funnel discovery and behavioral anomaly
# baselines. One lag window PARTITIONED BY USER (each partition is one
# user's bounded stream — never a global sort) and one count aggregate
# over (a, b) pairs; probabilities divide by the per-a total.

@register(
    "events_markov_transitions",
    """WITH seq AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
  FROM events
),
pairs AS (
  SELECT event_type AS cur, nxt, count(*)::BIGINT AS n
  FROM seq WHERE nxt IS NOT NULL
  GROUP BY cur, nxt
),
tot AS (SELECT cur, sum(n)::BIGINT AS t FROM pairs GROUP BY cur)
SELECT p.cur, p.nxt, p.n,
       round(p.n / CAST(tt.t AS DOUBLE), 6) + 0 AS prob
FROM pairs p JOIN tot tt ON p.cur = tt.cur
ORDER BY p.cur, p.nxt""",
)
def q_events_markov_transitions(spark, sf_dir):
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    pairs = seq.groupBy(F.col("event_type").alias("cur"), "nxt").agg(
        F.count("*").alias("n")
    )
    tot = pairs.groupBy("cur").agg(F.sum("n").alias("t"))
    return (
        pairs.join(tot, "cur")
        .select(
            "cur",
            "nxt",
            "n",
            (F.round(F.col("n") / F.col("t").cast("double"), 6) + F.lit(0.0)).alias(
                "prob"
            ),
        )
        .orderBy("cur", "nxt")
    )


# ---------------------------------------------------------------------------
# Full cohort-retention matrix — the long-form (cohort_day, age_days,
# retained) triangle behind every retention heatmap; events_retention is
# its fixed d1/d7 summary. One distinct-activity pass, one equi join on
# user, integer age from a day difference — no window over the corpus,
# cohorts aggregate in a single shuffle.

@register(
    "events_cohort_matrix",
    """WITH first_seen AS (
  SELECT user_id, date_trunc('day', min(ts)) AS d0 FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM events
)
SELECT f.d0 AS cohort_day,
       date_diff('day', f.d0, a.d)::BIGINT AS age_days,
       count(DISTINCT f.user_id)::BIGINT AS retained
FROM first_seen f JOIN activity a ON a.user_id = f.user_id
GROUP BY cohort_day, age_days
ORDER BY cohort_day, age_days""",
)
def q_events_cohort_matrix(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("d0")
    )
    activity = e.select("user_id", F.date_trunc("day", "ts").alias("d")).distinct()
    return (
        first_seen.join(activity, "user_id")
        .groupBy(
            F.col("d0").alias("cohort_day"),
            F.datediff(F.col("d"), F.col("d0")).cast("long").alias("age_days"),
        )
        .agg(F.countDistinct("user_id").alias("retained"))
        .orderBy("cohort_day", "age_days")
    )


# Interval-join click attribution: view impressions joined to clicks of
# the same user landing inside the 30-minute attribution window. Plan
# shape: user-keyed equi-join (one shuffle per side) with the range
# condition as a post-filter — never a theta-join cartesian.

ATTRIBUTION_WINDOW_S = 1800  # 30 min attribution window


def _attribution_condition(window_seconds: int):
    return (
        (F.col("imp.user_id") == F.col("clk.user_id"))
        & (F.col("clk.ts") >= F.col("imp.ts"))
        & (F.col("clk.ts") <= F.col("imp.ts") + F.expr(f"interval {window_seconds} seconds"))
    )


def attribute_clicks_batch(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    window_seconds: int = ATTRIBUTION_WINDOW_S,
) -> DataFrame:
    """Attributed (impression, click) pairs, with the attribution latency
    for downstream windowed aggregation. Spark plans it as a user-keyed
    equi-join with the range condition as a post-filter — one shuffle
    per side, never a theta-join cartesian."""
    imp = impressions.alias("imp")
    clk = clicks.alias("clk")
    return imp.join(clk, _attribution_condition(window_seconds)).select(
        F.col("imp.user_id").alias("user_id"),
        F.col("imp.event_id").alias("impression_id"),
        F.col("clk.event_id").alias("click_id"),
        F.col("imp.ts").alias("impression_ts"),
        F.col("clk.ts").alias("click_ts"),
        (
            F.col("clk.ts").cast("double") - F.col("imp.ts").cast("double")
        ).alias("latency_s"),
    )


def unattributed_impressions_batch(
    impressions: DataFrame,
    clicks: DataFrame,
    *,
    window_seconds: int = ATTRIBUTION_WINDOW_S,
) -> DataFrame:
    """Impressions with NO click inside the attribution window. A
    left_anti join beats filtering an outer join's nulls: the anti form
    never materializes the matched fan-out at all (an impression with 50
    clicks contributes 50 joined rows to the outer shape, zero here)."""
    imp = impressions.alias("imp")
    clk = clicks.alias("clk")
    return imp.join(
        clk, _attribution_condition(window_seconds), "left_anti"
    ).select(
        F.col("user_id"),
        F.col("event_id").alias("impression_id"),
        F.col("ts").alias("impression_ts"),
    )


@register(
    "events_click_attribution",
    """SELECT i.user_id,
       i.event_id AS impression_id, c.event_id AS click_id,
       i.ts AS impression_ts, c.ts AS click_ts,
       round(epoch(c.ts) - epoch(i.ts), 6) + 0 AS latency_s
FROM (SELECT * FROM events WHERE event_type = 'view') i
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON i.user_id = c.user_id
 AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 30 MINUTE
ORDER BY impression_id, click_id""",
)
def q_events_click_attribution(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    out = attribute_clicks_batch(
        e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts"),
        e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts"),
        window_seconds=1800,
    )
    return out.select(
        "user_id", "impression_id", "click_id", "impression_ts", "click_ts",
        (F.round("latency_s", 6) + F.lit(0.0)).alias("latency_s"),
    ).orderBy("impression_id", "click_id")


# Unattributed impressions: those NO click attributes within the window.
# The plan is a left_anti user-keyed equi-join with the range
# post-filter — one shuffle per side, and the matched fan-out (an
# impression with many clicks) is never materialized at all.

@register(
    "events_impressions_unattributed",
    """SELECT i.user_id, i.event_id AS impression_id, i.ts AS impression_ts
FROM (SELECT * FROM events WHERE event_type = 'view') i
WHERE NOT EXISTS (
  SELECT 1 FROM events c
  WHERE c.event_type = 'click' AND c.user_id = i.user_id
    AND c.ts >= i.ts AND c.ts <= i.ts + INTERVAL 30 MINUTE
)
ORDER BY impression_id""",
)
def q_events_impressions_unattributed(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    out = unattributed_impressions_batch(
        e.filter(F.col("event_type") == "view").select("event_id", "user_id", "ts"),
        e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts"),
        window_seconds=1800,
    )
    return out.orderBy("impression_id")


# Z-order clustered read (plans/zorder): the query itself is an ordinary
# two-dimensional range read — its POINT is the layout it reads from, a
# build-once Morton-clustered copy of events whose parquet row groups
# are tight in BOTH user_id and ts, so the scan's pushed filters skip
# user-disjoint AND time-disjoint row groups (tests/test_zorder.py holds
# the skipping evidence; the single-sort baseline prunes only one
# dimension). Time bounds are computed driver-side in integer micros
# (bounded 1-row aggregate) so both engines filter on identical BIGINTs.

@register(
    "events_zorder_read",
    """SELECT event_id, ts, user_id, event_type, value
FROM events
WHERE user_id BETWEEN (SELECT max(user_id) // 5 FROM events)
                  AND (SELECT 2 * (max(user_id) // 5) FROM events)
  AND epoch_us(ts) < (
    SELECT min(epoch_us(ts)) + (max(epoch_us(ts)) - min(epoch_us(ts))) // 4
    FROM events)
ORDER BY event_id""",
)
def q_events_zorder_read(spark, sf_dir):
    from ..plans.zorder import write_zordered, zorder_is_built
    from .rag import _scratch_path

    path = _scratch_path(sf_dir, "events_zorder_h", tables=("events",))
    if not zorder_is_built(path):
        write_zordered(
            load(spark, sf_dir, "events"), path, ["user_id", "ts"],
            bits=6, n_files=16, curve="hilbert",
        )
    z = read_parquet(spark, path)
    t0, t1, umax = z.agg(
        F.min(F.unix_micros("ts")),
        F.max(F.unix_micros("ts")),
        F.max("user_id"),
    ).first()
    cut = t0 + (t1 - t0) // 4  # python floor == DuckDB // on positives
    return (
        z.filter(
            F.col("user_id").between(umax // 5, 2 * (umax // 5))
            # compare the RAW column to a timestamp literal (not
            # unix_micros(ts) < lit): a wrapped column defeats parquet
            # pushdown, and the pushed ts range is the layout's point
            & (F.col("ts") < F.timestamp_micros(F.lit(cut)))
        )
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("event_id")
    )


# Declarative data-quality expectations (plans/expectations): one scan
# tags rows with the rules they fail; quarantine explodes one row per
# (row, rule) for triage. Every rule is a pure column predicate — the
# pass runs at scan speed; the companion metrics frame is one map-side
# aggregate (no shuffle of the corpus). NULL rule results count as
# violations (an expectation that can't evaluate did not pass).

@register(
    "events_expectations",
    """SELECT event_id, rule FROM (
  SELECT event_id, 'core_type' AS rule FROM events
   WHERE (event_type IN ('view', 'click', 'purchase')) IS NOT TRUE
  UNION ALL
  SELECT event_id, 'value_cap' FROM events
   WHERE (value <= 300.0) IS NOT TRUE
  UNION ALL
  SELECT event_id, 'small_k' FROM events
   WHERE (CAST(json_extract(props, '$.k') AS INTEGER) < 95) IS NOT TRUE
)
ORDER BY event_id, rule""",
)
def q_events_expectations(spark, sf_dir):
    from ..plans.expectations import apply_expectations

    ev = load(spark, sf_dir, "events")
    rules = [
        ("core_type", "event_type IN ('view', 'click', 'purchase')"),
        ("value_cap", "value <= 300.0"),
        ("small_k", "CAST(get_json_object(props, '$.k') AS INT) < 95"),
    ]
    _, quarantine, _ = apply_expectations(ev, rules)
    return quarantine.select("event_id", "rule").orderBy("event_id", "rule")


# The expectations METRICS lane: one map-side-combinable aggregate row —
# what a pipeline health dashboard polls per batch. Counts must agree
# with the quarantine stream (same tagged frame, pinned in
# tests/test_expectations.py).

@register(
    "events_expectations_metrics",
    """SELECT count(*)::BIGINT AS rows,
       sum(CASE WHEN (event_type IN ('view', 'click', 'purchase'))
                 AND (value <= 300.0)
                 AND (CAST(json_extract(props, '$.k') AS INTEGER) < 95)
                THEN 1 ELSE 0 END)::BIGINT AS clean_rows,
       sum(CASE WHEN (event_type IN ('view', 'click', 'purchase')) IS NOT TRUE
                THEN 1 ELSE 0 END)::BIGINT AS viol_core_type,
       sum(CASE WHEN (value <= 300.0) IS NOT TRUE
                THEN 1 ELSE 0 END)::BIGINT AS viol_value_cap,
       sum(CASE WHEN (CAST(json_extract(props, '$.k') AS INTEGER) < 95) IS NOT TRUE
                THEN 1 ELSE 0 END)::BIGINT AS viol_small_k
FROM events""",
)
def q_events_expectations_metrics(spark, sf_dir):
    from ..plans.expectations import apply_expectations

    ev = load(spark, sf_dir, "events")
    rules = [
        ("core_type", "event_type IN ('view', 'click', 'purchase')"),
        ("value_cap", "value <= 300.0"),
        ("small_k", "CAST(get_json_object(props, '$.k') AS INT) < 95"),
    ]
    _, _, metrics = apply_expectations(ev, rules)
    return metrics
