"""Streaming-shaped query inventory over `events`: sessionization and
tumbling-window aggregation — the batch forms of the operators
`streaming/` runs with readStream (ST-family + beyond-reference)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gfe_db_spark.queries import QuerySpec
from gfe_db_spark.queries.warehouse import CDC_APPLY_SQL as _CDC_APPLY_SQL
from gfe_db_spark.session import remove_at_exit
from gfe_db_spark.sources.tables import table

SESSION_GAP_MS = 30 * 60 * 1000


def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via lag + cumulative gap-count (the batch equivalent
    of session_window in Structured Streaming): per (user, session) event
    counts and session length."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ms = F.unix_millis(F.col("ts"))
    gap = ms - F.unix_millis(F.lag("ts").over(w))
    with_flag = ev.withColumn(
        "new_session",
        F.when(gap.isNull() | (gap > SESSION_GAP_MS), F.lit(1)).otherwise(F.lit(0)),
    )
    wcum = w.rowsBetween(W.unboundedPreceding, W.currentRow)
    sessions = with_flag.withColumn(
        "session_id", F.sum("new_session").over(wcum).cast("long")
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.max(F.unix_millis(F.col("ts"))) - F.min(F.unix_millis(F.col("ts")))).alias(
                "session_ms"
            ),
        )
    )


SESSIONIZE_SQL = f"""
WITH flagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR epoch_ms(ts) - epoch_ms(lag(ts) OVER w) > {SESSION_GAP_MS}
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sessions AS (
  SELECT user_id, ts,
         CAST(SUM(new_session) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MAX(epoch_ms(ts)) - MIN(epoch_ms(ts)) AS session_ms
FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 6-hour window aggregation (batch form of the streaming
    windowed agg; epoch-aligned buckets match DuckDB's time_bucket)."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_format(F.window("ts", "6 hours").start, "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(30,8)")).cast("double").alias("total_value"),
        )
        .orderBy("window_start", "event_type")
    )


TUMBLING_SQL = """
SELECT strftime(time_bucket(INTERVAL '6 hours', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       CAST(CAST(SUM(CAST(value AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
"""


def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel over the event stream: users who progressed
    signup → view → click → purchase, each step strictly after the
    previous (first-occurrence semantics). One keyed aggregation computes
    all per-user step timestamps (conditional min — map-side partial agg),
    then four counts; no self-joins, no window over the full stream."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        *[
            F.min(F.when(F.col("event_type") == s, F.col("ts"))).alias(f"t_{s}")
            for s in ("signup", "view", "click", "purchase")
        ]
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = s1 & (F.col("t_view") > F.col("t_signup"))
    s3 = s2 & (F.col("t_click") > F.col("t_view"))
    s4 = s3 & (F.col("t_purchase") > F.col("t_click"))
    agg = firsts.agg(
        F.sum(s1.cast("long")).alias("n1"),
        F.sum(s2.cast("long")).alias("n2"),
        F.sum(s3.cast("long")).alias("n3"),
        F.sum(s4.cast("long")).alias("n4"),
    )
    stages = F.array(
        F.struct(F.lit("1_signup").alias("stage"), F.col("n1").alias("n_users")),
        F.struct(F.lit("2_view").alias("stage"), F.col("n2").alias("n_users")),
        F.struct(F.lit("3_click").alias("stage"), F.col("n3").alias("n_users")),
        F.struct(F.lit("4_purchase").alias("stage"), F.col("n4").alias("n_users")),
    )
    return (
        agg.select(F.explode(stages).alias("s"))
        .select(F.col("s.stage").alias("stage"), F.col("s.n_users").alias("n_users"))
        .orderBy("stage")
    )


EVENT_FUNNEL_SQL = """
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END)   AS t_signup,
         MIN(CASE WHEN event_type = 'view' THEN ts END)     AS t_view,
         MIN(CASE WHEN event_type = 'click' THEN ts END)    AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
), agg AS (
  SELECT
    SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS n1,
    SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup THEN 1 ELSE 0 END) AS n2,
    SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup AND t_click > t_view
             THEN 1 ELSE 0 END) AS n3,
    SUM(CASE WHEN t_signup IS NOT NULL AND t_view > t_signup AND t_click > t_view
                  AND t_purchase > t_click THEN 1 ELSE 0 END) AS n4
  FROM firsts
)
SELECT stage, n_users FROM (
  SELECT '1_signup' AS stage, CAST(n1 AS BIGINT) AS n_users FROM agg
  UNION ALL SELECT '2_view', CAST(n2 AS BIGINT) FROM agg
  UNION ALL SELECT '3_click', CAST(n3 AS BIGINT) FROM agg
  UNION ALL SELECT '4_purchase', CAST(n4 AS BIGINT) FROM agg
) ORDER BY stage
"""


def stream_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator (applyInPandasWithState,
    §2.8+) executed for real: file-source stream over the events parquet →
    per-user running totals → memory sink, driven to completion
    (processAllAvailable). Rows-only by design — arbitrary-state streaming
    semantics are exactly the non-SQL-expressible case."""
    import uuid

    from gfe_db_spark.streaming.structured import read_event_stream, stateful_user_totals

    name = f"ut_{uuid.uuid4().hex[:8]}"
    events = read_event_stream(spark, f"{sf_dir}/events.parquet")
    q = (
        stateful_user_totals(events)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    # update mode emits one row per user per micro-batch; the FINAL state
    # (max n_events — emissions are strictly increasing per user) equals
    # the batch aggregate, which makes the custom stateful operator
    # SQL-checkable. total_value rounds to 6: the in-state pandas sum and
    # the oracle's SUM may differ in the last ulp from summation order.
    return spark.sql(
        f"""
        SELECT user_id, n_events, round(total_value, 6) AS total_value FROM (
          SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY n_events DESC) AS rn
          FROM {name}
        ) WHERE rn = 1
        """
    )


def stream_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3 executed for real: stream the events parquet through the
    bucketed foreachBatch MERGE sink twice (second pass replays the same
    input) and return per-user aggregates of the upserted TARGET. The
    oracle aggregates the source directly, so the hash check proves the
    sink wrote exactly one row per key and the replay added nothing —
    at-least-once delivery in, exactly-once table out. (Value travels as
    integer cents so the check is float-order-proof.)"""
    import tempfile

    from gfe_db_spark.plans.txtable import read_table
    from gfe_db_spark.streaming.structured import foreach_batch_upsert, read_event_stream

    target = remove_at_exit(tempfile.mkdtemp(prefix="gfe_sink_")) + "/events_upserted"
    for _ in range(2):  # replay → MERGE idempotence
        events = read_event_stream(spark, f"{sf_dir}/events.parquet")
        q = foreach_batch_upsert(
            events.select("event_id", "user_id", "value"), target, ["event_id"], n_buckets=8
        ).start()
        q.processAllAvailable()
        q.stop()
    return (
        read_table(spark, target)  # manifest-resolving snapshot read
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
        )
    )


STREAM_UPSERT_SINK_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join executed for real (§2.8+): a clicks
    stream and a purchases stream (two file sources over the events
    parquet) joined on user within [purchase-1h, purchase], both sides
    watermarked so the join state is pruned as event time advances —
    the canonical two-stream enrichment every event pipeline needs.
    The memory sink holds the appended pairs; the returned summary
    (per-purchase prior-click count) is deterministic, so the entry is
    fully SQL-checkable against the batch interval join."""
    import uuid

    from gfe_db_spark.streaming.structured import read_event_stream

    name = f"ssj_{uuid.uuid4().hex[:8]}"
    clicks = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        read_event_stream(spark, f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = purchases.join(
        clicks,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("click_ts") <= F.col("purchase_ts")),
        "inner",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(
        f"""
        SELECT purchase_id, p_user AS user_id, COUNT(*) AS n_recent_clicks
        FROM {name} GROUP BY 1, 2 ORDER BY purchase_id
        """
    )


STREAM_STREAM_JOIN_SQL = """
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_recent_clicks
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND p.event_type = 'purchase' AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
GROUP BY 1, 2 ORDER BY purchase_id
"""


def imgt_datasource_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 via the registered Python DataSource (`spark.read.format("imgt")`)
    with record-aligned byte splits, on the deterministic mini-release —
    the second, catalog-integrated scan path next to read_imgt_dat."""
    import tempfile

    from gfe_db_spark.sources.imgt_datasource import register
    from gfe_db_spark.testing_fixtures import write_release_dat

    tmp = remove_at_exit(tempfile.mkdtemp(prefix="gfe_ds_"))
    dat = write_release_dat(tmp, "3550")
    register(spark)
    df = spark.read.format("imgt").load(dat)
    return df.select(
        "allele_id", "hla_name", "locus", F.col("length").cast("long").alias("length")
    )


IMGT_DS_SQL = """
SELECT * FROM (VALUES
  ('HLA00001', 'HLA-A*01:01:01:01', 'HLA-A', CAST(20 AS BIGINT)),
  ('HLA00002', 'HLA-A*01:02',       'HLA-A', CAST(20 AS BIGINT)),
  ('HLA00003', 'HLA-B*07:02',       'HLA-B', CAST(12 AS BIGINT)),
  ('HLA00004', 'DRB5*01:02',        'DRB5',  CAST(20 AS BIGINT)),
  ('HLA00005', 'HLA-DRB5*01:11',    'HLA-DRB5', CAST(20 AS BIGINT)),
  ('HLA00006', 'HLA-A*99:99',       'HLA-A', CAST(3 AS BIGINT))
) AS t(allele_id, hla_name, locus, length)
ORDER BY allele_id
"""


def imgt_stream_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1 executed as a first-class streaming SOURCE: the release
    directory is read via the registered `imgt_stream` Python streaming
    DataSource (offset = processed-release set). The entry runs the
    watcher EXACTLY the way production would — two releases land, an
    availableNow pass drains them to a parquet sink, a THIRD release
    lands, and a second pass restarted from the same checkpoint emits
    only the new release. The per-release counts below are therefore a
    hash-check that recovery emitted each release exactly once (a
    duplicate would double a count; a miss would drop a row)."""
    import tempfile

    from gfe_db_spark.sources.imgt_stream import register
    from gfe_db_spark.testing_fixtures import write_release_dat

    tmp = remove_at_exit(tempfile.mkdtemp(prefix="gfe_stream_ds_"))
    watch = f"{tmp}/watch"
    import os

    os.makedirs(watch)
    register(spark)
    sink, ckpt = f"{tmp}/sink", f"{tmp}/ckpt"

    def drain():
        q = (
            spark.readStream.format("imgt_stream")
            .load(watch)
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    write_release_dat(watch, "3550")
    write_release_dat(watch, "3560")
    drain()
    write_release_dat(watch, "3570")
    drain()  # restart from checkpoint: only 3570 may be emitted
    return (
        spark.read.parquet(sink)
        .groupBy("release")
        .agg(
            F.count(F.lit(1)).alias("n_alleles"),
            F.count_distinct("locus").alias("n_loci"),
        )
        .orderBy("release")
    )


# 3550 predates the 3560+ extra allele (testing_fixtures.release_records):
# 6 records / 4 loci, then 7 / 4 for 3560 and 3570
IMGT_STREAM_SQL = """
SELECT * FROM (VALUES
  ('3550', CAST(6 AS BIGINT), CAST(4 AS BIGINT)),
  ('3560', CAST(7 AS BIGINT), CAST(4 AS BIGINT)),
  ('3570', CAST(7 AS BIGINT), CAST(4 AS BIGINT))
) AS t(release, n_alleles, n_loci)
ORDER BY release
"""


def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup executed for real: the events parquet is
    staged TWICE into the stream source dir (simulating an at-least-once
    upstream), deduped on event_id within the watermark
    (dropDuplicatesWithinWatermark — bounded state), and sunk to memory.
    Correct dedup makes the sink equal one clean copy, so the per-type
    counts are SQL-checkable against the original table."""
    import shutil
    import tempfile
    import uuid

    from gfe_db_spark.streaming.structured import dedup_events, read_event_stream

    staging = tempfile.mkdtemp(prefix="stream_dedup_")
    try:
        for copy in ("a", "b"):
            shutil.copyfile(f"{sf_dir}/events.parquet", f"{staging}/{copy}.parquet")
        name = f"sd_{uuid.uuid4().hex[:8]}"
        events = read_event_stream(spark, staging)
        q = (
            dedup_events(events)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return spark.sql(
            f"SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events FROM {name} "
            "GROUP BY event_type ORDER BY event_type"
        )
    finally:
        shutil.rmtree(staging, ignore_errors=True)


def keep_latest_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-latest dedup via max_by (arg-max aggregate): each user's most
    recent event row in ONE keyed aggregation with map-side partials —
    the N-row-shuffle alternative to the rn=1 window for plain
    latest-per-key (the same agg-over-window trade ivf_assign makes).
    Deterministic: the ordering key (ts, event_id) is unique."""
    ev = table(spark, sf_dir, "events")
    key = F.struct("ts", "event_id")
    return (
        ev.groupBy("user_id")
        .agg(
            F.max_by(F.struct("event_id", "ts", "event_type", "value"), key).alias("e"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.col("e.event_id").alias("event_id"),
            F.date_format("e.ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            F.col("e.event_type").alias("event_type"),
            F.col("e.value").alias("value"),
            "n_events",
        )
    )


KEEP_LATEST_SQL = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts,
       event_type, value, n_events
FROM (
  SELECT user_id, event_id, ts, event_type, value,
         CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events,
         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id
"""


def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: every purchase event attributed to the same
    user's most recent click strictly before it. The window carry-forward
    form (conditional lag via max-of-click-ts over preceding rows) — one
    shuffle on user_id, no per-pair range join, the same scale shape as
    the as-of join."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow - 1)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    with_prev = ev.withColumn("last_click_ts", F.max(click_ts).over(w))
    return (
        with_prev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("purchase_ts"),
            F.date_format("last_click_ts", "yyyy-MM-dd HH:mm:ss").alias("attributed_click_ts"),
            F.col("last_click_ts").isNotNull().alias("attributed"),
        )
    )


def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution ALLOCATION: each purchase's value
    (integer cents) splits equally across the same user's clicks strictly
    before it — emitted as the per-purchase allocation row
    (n_prior_clicks, per-click quotient, remainder), all integer
    arithmetic so the split is exact and engine-portable (the remainder
    convention — assign to the last click — is the downstream joiner's
    choice and doesn't change these numbers). Same single user-keyed
    window shuffle as last-touch; no pair explosion."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow - 1)
    )
    n_clicks = F.count(
        F.when(F.col("event_type") == "click", F.lit(1))
    ).over(w)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    return (
        ev.withColumn("n_prior_clicks", n_clicks)
        .filter(F.col("event_type") == "purchase")
        .withColumn("value_cents", cents)
        .select(
            "user_id",
            "event_id",
            "value_cents",
            "n_prior_clicks",
            # `div` is exact truncating integer division, matching DuckDB's
            # integer `//` (both truncate toward zero) with no double rounding
            F.when(
                F.col("n_prior_clicks") > 0,
                F.expr("value_cents div n_prior_clicks"),
            ).alias("per_click_cents"),
            F.when(
                F.col("n_prior_clicks") > 0,
                F.col("value_cents") % F.col("n_prior_clicks"),
            ).alias("remainder_cents"),
        )
    )


ATTRIBUTION_LINEAR_SQL = """
WITH w AS (
  SELECT user_id, event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS value_cents,
         COUNT(CASE WHEN event_type = 'click' THEN 1 END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS n_prior_clicks
  FROM events
)
SELECT user_id, event_id, value_cents,
       CAST(n_prior_clicks AS BIGINT) AS n_prior_clicks,
       CASE WHEN n_prior_clicks > 0
            THEN value_cents // n_prior_clicks END AS per_click_cents,
       CASE WHEN n_prior_clicks > 0
            THEN value_cents % n_prior_clicks END AS remainder_cents
FROM w WHERE event_type = 'purchase'
ORDER BY user_id, event_id
"""


def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week
    (epoch-week integers — engine-exact), counted per subsequent active
    week offset. Two keyed aggs + a broadcast-size cohort join + one
    final agg — the standard product-analytics shape with no windows and
    integer-only arithmetic."""
    ev = table(spark, sf_dir, "events")
    # integer div, not float: a correctly-rounded double quotient can land
    # on the wrong side of an integer and shift a week boundary
    week = F.expr("unix_timestamp(ts) div 604800")
    user_weeks = ev.select("user_id", week.alias("week")).distinct()
    cohorts = user_weeks.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        user_weeks.join(cohorts, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count_distinct("user_id").alias("n_active_users"))
        .orderBy("cohort_week", "week_offset")
    )


RETENTION_SQL = """
WITH uw AS (
  -- floor-then-integer-divide matches Spark's unix_timestamp truncation
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS week
  FROM events
), cohorts AS (
  SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
)
SELECT c.cohort_week, uw.week - c.cohort_week AS week_offset,
       CAST(COUNT(DISTINCT uw.user_id) AS BIGINT) AS n_active_users
FROM uw JOIN cohorts c USING (user_id)
GROUP BY 1, 2
ORDER BY cohort_week, week_offset
"""


def event_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot crosstab: events counted by weekday × event_type via
    DataFrame.pivot with the value list declared (declared values keep
    the pivot a single pass with a fixed output schema — the
    at-scale form; undeclared values would force a distinct-collect of
    the pivot column first)."""
    ev = table(spark, sf_dir, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.withColumn("weekday", F.dayofweek("ts"))
        .groupBy("weekday")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .orderBy("weekday")
    )
    # pivot leaves missing cells null; a crosstab reports 0
    return out.select(
        "weekday", *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in types]
    )


CROSSTAB_SQL = """
SELECT CAST(dayofweek(ts) + 1 AS INTEGER) AS weekday,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
FROM events
GROUP BY 1
ORDER BY weekday
"""


ATTRIBUTION_SQL = """
SELECT user_id, event_id,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
       strftime(last_click_ts, '%Y-%m-%d %H:%M:%S') AS attributed_click_ts,
       last_click_ts IS NOT NULL AS attributed
FROM (
  SELECT user_id, event_id, ts, event_type,
         MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS last_click_ts
  FROM events
)
WHERE event_type = 'purchase'
ORDER BY user_id, event_id
"""


def timeseries_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style gap-filled rollup: a dense 6-hour bucket grid per
    event_type between the corpus bounds, zero-filled counts, and
    last-observation-carried-forward for the bucket average (the
    TimescaleDB time_bucket_gapfill + locf shape). The grid is
    dimensions × generated sequence — both tiny relative to the facts —
    and LOCF is `last(..., ignorenulls)` over a per-type window."""
    from pyspark.sql.window import Window as W

    ev = table(spark, sf_dir, "events")
    # the 6-decimal mean is computed ENTIRELY in integer space: a double
    # AVG differs across engines in the last ulp, and even on an identical
    # double quotient round(·, 6) disagrees between Java (rounds the
    # binary value) and DuckDB (rounds the decimal rendering) when the
    # quotient sits on a .5e-6 boundary — both bit us at sf0.1. Exact
    # decimal sum → scaled long → half-up integer division (values are
    # non-negative), then one exact-power-of-ten double division.
    x = (F.sum(F.col("value").cast("decimal(30,8)")) * F.lit(100000000)).cast("long")
    n_rows = F.count(F.lit(1))
    bucketed = (
        ev.groupBy(F.window("ts", "6 hours").start.alias("bucket"), "event_type")
        .agg(n_rows.alias("n"), x.alias("x"))
        .withColumn(
            "avg_v",
            (
                F.expr("(2 * x + 100 * n) div (200 * n)").cast("double") / F.lit(1000000.0)
            ),
        )
        .drop("x")
    )
    bounds = bucketed.agg(F.min("bucket").alias("lo"), F.max("bucket").alias("hi"))
    types = ev.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 6 HOURS"))).alias("bucket"),
    )
    w = W.partitionBy("event_type").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    return (
        grid.join(bucketed, ["event_type", "bucket"], "left")
        .select(
            "event_type",
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.coalesce("n", F.lit(0)).alias("n"),
            F.last("avg_v", ignorenulls=True).over(w).alias("locf_value"),
        )
        .orderBy("event_type", "window_start")
    )


GAPFILL_SQL = """
WITH b AS (
  SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket, event_type,
         COUNT(*) AS n,
         CAST((2 * CAST(SUM(CAST(value AS DECIMAL(30,8))) * 100000000 AS BIGINT)
               + 100 * COUNT(*)) // (200 * COUNT(*)) AS DOUBLE) / 1000000.0 AS avg_v
  FROM events GROUP BY 1, 2
), bounds AS (
  SELECT MIN(bucket) AS lo, MAX(bucket) AS hi FROM b
), grid AS (
  SELECT t.event_type, g.bucket
  FROM (SELECT DISTINCT event_type FROM events) t
  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL '6 hours')) AS bucket
              FROM bounds) g
)
SELECT g.event_type,
       strftime(g.bucket, '%Y-%m-%d %H:%M:%S') AS window_start,
       CAST(COALESCE(b.n, 0) AS BIGINT) AS n,
       last_value(b.avg_v IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS locf_value
FROM grid g LEFT JOIN b ON g.event_type = b.event_type AND g.bucket = b.bucket
ORDER BY g.event_type, window_start
"""


def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event values
    (s_n = 0.2·v_n + 0.8·s_{n-1}, seeded s_1 = v_1) — a linear recurrence
    no built-in window aggregate expresses. Spark-idiom: collect each
    user's (bounded) event list, sort it, and fold with the higher-order
    `aggregate` — sequential per key, parallel across keys, no Python.
    At unbounded per-key history the same recurrence runs incrementally in
    streaming state (stateful_user_totals' shape) instead of a collect."""
    ev = table(spark, sf_dir, "events")
    evs = F.array_sort(
        F.collect_list(
            F.struct("ts", "event_id", F.coalesce("value", F.lit(0.0)).alias("v"))
        )
    )
    per_user = ev.groupBy("user_id").agg(evs.alias("evs"))
    ewma = F.aggregate(
        F.col("evs"),
        F.lit(None).cast("double"),
        lambda acc, e: F.when(acc.isNull(), e["v"]).otherwise(
            F.lit(0.2) * e["v"] + F.lit(0.8) * acc
        ),
    )
    return per_user.select(
        "user_id",
        F.size("evs").alias("n_events"),
        F.round(ewma, 6).alias("ewma_value"),
    )


EWMA_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(list_reduce(
         list(CAST(COALESCE(value, 0) AS DOUBLE) ORDER BY ts, event_id),
         (acc, x) -> 0.2 * x + 0.8 * acc
       ), 6) AS ewma_value
FROM events GROUP BY user_id ORDER BY user_id
"""


STREAM_USER_TOTALS_SQL = """
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       round(SUM(COALESCE(value, 0)), 6) AS total_value
FROM events GROUP BY user_id ORDER BY user_id
"""


STREAM_DEDUP_SQL = """
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM events GROUP BY event_type ORDER BY event_type
"""


def stream_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Executed streaming CDC apply: the events changelog arrives as TWO
    files split by event_id parity — deliberately NOT event-time-ordered,
    so the per-batch foreachBatch merge must be version-aware. Each batch
    MERGEs into the persisted state keeping the latest change per key
    (max_by over the version struct, tombstones kept IN state so an
    out-of-order older update can't resurrect a deleted key). The final
    snapshot (tombstoned keys dropped) is fully SQL-checkable against the
    batch changelog apply — same oracle as `cdc_apply_changelog`.

    Scale: the state is a bucketed `tx_upsert` table (plans/txtable.py),
    so a batch's commit reads and rewrites only the buckets its keys hash
    to — O(batch + touched buckets), not O(|state|)."""
    import os
    import shutil
    import tempfile
    import uuid

    from gfe_db_spark.streaming.structured import read_event_stream

    root = tempfile.mkdtemp(prefix="stream_cdc_")
    src = os.path.join(root, "src")
    state = os.path.join(root, "state")
    os.makedirs(src)
    try:
        ev = table(spark, sf_dir, "events")
        for tag, rem in (("a", 0), ("b", 1)):
            half_dir = os.path.join(root, f"half_{tag}")
            ev.filter(F.col("event_id") % 2 == rem).coalesce(1).write.mode(
                "overwrite"
            ).parquet(half_dir)
            parts = [f for f in os.listdir(half_dir) if f.endswith(".parquet")]
            assert len(parts) == 1
            shutil.move(
                os.path.join(half_dir, parts[0]), os.path.join(src, f"{tag}.parquet")
            )

        from gfe_db_spark.streaming.structured import (
            cdc_current_snapshot,
            cdc_merge_sink,
        )

        sink = cdc_merge_sink(state)

        def apply_batch(batch_df, batch_id: int) -> None:
            sink(
                batch_df.select(
                    F.col("user_id").alias("key"),
                    F.col("ts").alias("version_ts"),
                    F.col("event_id").alias("version_seq"),
                    F.when(F.col("event_type") == "error", F.lit("D"))
                    .otherwise(F.lit("U"))
                    .alias("op"),
                    F.col("value"),
                ),
                batch_id,
            )

        stream = read_event_stream(spark, src, max_files_per_trigger=1)
        q = (
            stream.writeStream.foreachBatch(apply_batch)
            .option("checkpointLocation", os.path.join(root, "ckpt"))
            .queryName(f"cdc_{uuid.uuid4().hex[:8]}")
            .start()
        )
        q.processAllAvailable()
        q.stop()
        return (
            cdc_current_snapshot(spark, state)
            .select(
                "key",
                F.date_format("version_ts", "yyyy-MM-dd HH:mm:ss").alias("version_ts"),
                F.col("value").alias("current_value"),
                "n_changes",
            )
            # the memoryless parquet state dies with the tempdir: collect
            # into a local-relation result before cleanup
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def rolling_distinct_users_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users per day — the sliding-window
    COUNT DISTINCT that window frames cannot express (DISTINCT isn't a
    frame aggregate). Exact form: dedupe to (user, day) FIRST (collapsing
    within-day activity before any fan-out), explode each active day into
    the ≤7 window-days it contributes to, keep observed days via a
    broadcast-size join, one distinct-count per window-day.

    Scale: the shuffle fan-out is 7× the (user, day) DEDUPED activity
    table, not 7× raw events; the sketch swap at 100 TB is per-day HLL
    sketches merged over the trailing window (approx_count_distinct's
    mergeable state) — same shape, no 7× explode. Epoch-day integers keep
    the bucket math engine-exact."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_timestamp(ts) div 86400")
    du = ev.select("user_id", day.alias("day")).distinct()
    days = du.select(F.col("day").alias("wday")).distinct()
    win = du.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("wday")
    )
    return (
        win.join(F.broadcast(days), "wday")
        .groupBy("wday")
        .agg(F.count_distinct("user_id").alias("n_users_7d"))
        .select(F.col("wday").alias("day"), "n_users_7d")
        .orderBy("day")
    )


ROLLING_DISTINCT_SQL = """
WITH du AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
), days AS (
  SELECT DISTINCT day FROM du
), win AS (
  SELECT du.user_id, du.day + i.i AS wday
  FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i
)
SELECT w.wday AS day, CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_users_7d
FROM win w JOIN days d ON d.day = w.wday
GROUP BY 1
ORDER BY day
"""


def rolling_distinct_users_7d_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch swap for `rolling_distinct_users_7d` at 100 TB: instead
    of exploding (user, day) activity 7×, each day keeps ONE mergeable HLL
    state and the trailing window merges 7 of them — state size is
    O(days × sketch), independent of user count. Here the explode carries
    only the day-level sketch inputs (never per-user rows duplicated),
    and the accuracy contract is asserted the family's usual way: exact
    counts anchor the hash, each engine checks its own sketch lands within
    the band.

    Plan shape (r13, found by the sf10 growth probe): the dedup is its
    OWN exchange (`.distinct()` — narrow (user_id, wday) rows, map-side
    partial dedup), and the wday aggregate runs count(*) +
    approx_count_distinct over the already-distinct rows. The naive
    single `groupBy(wday).agg(count_distinct, approx_count_distinct)`
    plans through planAggregateWithOneDistinct, which keys the PARTIAL
    HLL state by (wday, user_id) — ~1.6k longs of rsd-0.01 sketch buffer
    per DISTINCT PAIR carried through the dedup shuffle (~13 KB/row ×
    hundreds of millions of pairs at sf10: measured 227–402 s,
    spill-bound). Splitting dedup from aggregation keeps HLL state
    per-wday only (~30 groups): measured 6–11 s warm at sf10, ~25×.
    HLL registers are duplicate-insensitive,
    so the sketch over deduped rows is bit-identical, and count(*) over
    distinct rows IS count_distinct. Pinned by test_plan_contracts (no
    user_id-keyed approx partial state allowed in the final plan)."""
    ev = table(spark, sf_dir, "events")
    day = F.expr("unix_timestamp(ts) div 86400")
    du = ev.select("user_id", day.alias("day")).distinct()
    days = du.select(F.col("day").alias("wday")).distinct()
    win = du.select(
        "user_id", F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("wday")
    )
    dedup = win.join(F.broadcast(days), "wday").distinct()
    return (
        dedup.groupBy("wday")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.approx_count_distinct("user_id", 0.01).alias("n_approx"),
        )
        .select(
            F.col("wday").alias("day"),
            "n_exact",
            (
                F.abs(F.col("n_approx") - F.col("n_exact")) <= 0.10 * F.col("n_exact")
            ).alias("approx_within_band"),
        )
        .orderBy("day")
    )


ROLLING_DISTINCT_APPROX_SQL = """
WITH du AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
  FROM events
), days AS (
  SELECT DISTINCT day FROM du
), win AS (
  SELECT du.user_id, du.day + i.i AS wday
  FROM du CROSS JOIN (SELECT unnest(range(0, 7)) AS i) i
)
SELECT w.wday AS day,
       CAST(COUNT(DISTINCT w.user_id) AS BIGINT) AS n_exact,
       abs(approx_count_distinct(w.user_id) - COUNT(DISTINCT w.user_id))
         <= 0.10 * COUNT(DISTINCT w.user_id) AS approx_within_band
FROM win w JOIN days d ON d.day = w.wday
GROUP BY 1
ORDER BY day
"""


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment executed for real: file-source
    stream over events joined per micro-batch against the static
    customer→nation dimension chain (no state store, stream never
    shuffles for the join), aggregated per nation in complete mode to a
    memory sink. The oracle is the same join+agg in batch SQL, so the
    hash check proves every streamed event was enriched exactly once.
    (Value travels as integer cents — float-order-proof.)"""
    import uuid

    from gfe_db_spark.sources.tables import table
    from gfe_db_spark.streaming.structured import read_event_stream, stream_static_enrich

    dim = (
        table(spark, sf_dir, "customer")
        .join(
            table(spark, sf_dir, "nation"),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("c_custkey"), F.col("n_name"))
    )
    events = read_event_stream(spark, f"{sf_dir}/events.parquet")
    enriched = stream_static_enrich(events, dim, "user_id", "c_custkey")
    agg = enriched.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
    )
    name = f"enrich_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT n_name, n_events, value_cents FROM {name} ORDER BY n_name")


STREAM_STATIC_ENRICH_SQL = """
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS value_cents
FROM events e
JOIN customer c ON e.user_id = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
"""


QUERIES: dict[str, QuerySpec] = {
    "stream_static_enrich": QuerySpec(
        stream_static_enrich,
        STREAM_STATIC_ENRICH_SQL,
        "stream-static broadcast enrichment executed; target agg vs batch oracle",
    ),
    "sessionize": QuerySpec(sessionize, SESSIONIZE_SQL, "gap sessionization"),
    "rolling_distinct_users_7d_approx": QuerySpec(
        rolling_distinct_users_7d_approx,
        ROLLING_DISTINCT_APPROX_SQL,
        "HLL sketch twin of the sliding distinct (accuracy contract)",
    ),
    "rolling_distinct_users_7d": QuerySpec(
        rolling_distinct_users_7d,
        ROLLING_DISTINCT_SQL,
        "trailing-7-day exact distinct users (sliding-window COUNT DISTINCT)",
    ),
    "tumbling_window": QuerySpec(tumbling_window, TUMBLING_SQL, "6h tumbling agg"),
    "event_funnel": QuerySpec(event_funnel, EVENT_FUNNEL_SQL, "ordered funnel analysis"),
    "stream_user_totals": QuerySpec(
        stream_user_totals,
        STREAM_USER_TOTALS_SQL,
        "applyInPandasWithState executed; final state vs batch aggregate",
    ),
    "stream_upsert_sink": QuerySpec(
        stream_upsert_sink,
        STREAM_UPSERT_SINK_SQL,
        "foreachBatch bucketed MERGE sink + replay, target content vs source oracle",
    ),
    "stream_stream_join": QuerySpec(
        stream_stream_join,
        STREAM_STREAM_JOIN_SQL,
        "watermarked stream-stream interval join, executed",
    ),
    "stream_cdc_apply": QuerySpec(
        stream_cdc_apply,
        _CDC_APPLY_SQL,
        "executed streaming CDC apply with tombstones, out-of-order batches",
    ),
    "imgt_datasource_scan": QuerySpec(
        imgt_datasource_scan, IMGT_DS_SQL, "Python DataSource scan (S1)"
    ),
    "imgt_stream_scan": QuerySpec(
        imgt_stream_scan,
        IMGT_STREAM_SQL,
        "streaming Python DataSource release watcher (exactly-once restart)",
    ),
    "stream_dedup": QuerySpec(
        stream_dedup, STREAM_DEDUP_SQL, "watermarked streaming dedup of a duplicated source"
    ),
    "ewma_user_value": QuerySpec(
        ewma_user_value, EWMA_SQL, "per-user EWMA via higher-order fold"
    ),
    "timeseries_gapfill_locf": QuerySpec(
        timeseries_gapfill_locf, GAPFILL_SQL, "gap-filled rollup with LOCF"
    ),
    "attribution_last_touch": QuerySpec(
        attribution_last_touch, ATTRIBUTION_SQL, "purchase→last-click attribution"
    ),
    "attribution_linear": QuerySpec(
        attribution_linear,
        ATTRIBUTION_LINEAR_SQL,
        "linear multi-touch attribution allocation (integer-exact splits)",
    ),
    "retention_cohorts": QuerySpec(
        retention_cohorts, RETENTION_SQL, "weekly cohort retention matrix"
    ),
    "event_crosstab": QuerySpec(
        event_crosstab, CROSSTAB_SQL, "weekday × event-type pivot crosstab"
    ),
    "keep_latest_per_user": QuerySpec(
        keep_latest_per_user, KEEP_LATEST_SQL, "arg-max keep-latest dedup"
    ),
}
