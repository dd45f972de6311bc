"""Time-window operators (SURVEY.md §2.9 extension surface).

The reference is batch-only; its incremental story is idempotent keyed
re-runs (/root/reference/scripts/database/database.py:52-73). The engine's
streaming surface is Structured Streaming (see stream_ops.py for the live
readStream/watermark/foreachBatch forms, exercised in tests); the *same*
window semantics are registered here in batch mode so the DuckDB oracle can
check them — Spark guarantees batch/stream parity for these operators.

Window starts are emitted as epoch seconds (BIGINT) so timestamp-precision
differences can't leak into the hash compare.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ..registry import register
from ..functions.exact import scaled_long
from ..functions.top1 import ASC, DESC, Top1
from ..operators.ckpt import pin
from ..operators.dedup import sql_stable_round4
from ..tables import literal_frame, load

TUMBLE_S = 600
SLIDE_S = 300


@register(
    "stream_tumbling_window",
    oracle=f"""
    SELECT CAST(floor(epoch(ts) / {TUMBLE_S}) * {TUMBLE_S} AS BIGINT)
               AS window_start,
           event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) / 100.0 AS DOUBLE)
               AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation: window(ts, '10 minutes') per event_type.
    In streaming mode the identical expression runs under a watermark
    (stream_ops.tumbling_counts); partial aggregation keeps the shuffle
    keyed on (window, type) — bounded state at any scale."""
    e = load(spark, sf_dir, "events")
    win = F.window("ts", f"{TUMBLE_S} seconds")
    return (
        e.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(scaled_long(F.col("value"), 100)) / 100.0)
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "stream_sliding_window",
    oracle=f"""
    WITH assigned AS (
        SELECT e.*, CAST(floor(epoch(ts) / {SLIDE_S}) * {SLIDE_S}
                         - i * {SLIDE_S} AS BIGINT) AS window_start
        FROM events e, unnest(generate_series(0, {TUMBLE_S // SLIDE_S - 1})) AS u(i)
        WHERE epoch(ts) >= floor(epoch(ts) / {SLIDE_S}) * {SLIDE_S} - i * {SLIDE_S}
          AND epoch(ts) < floor(epoch(ts) / {SLIDE_S}) * {SLIDE_S} - i * {SLIDE_S}
                          + {TUMBLE_S})
    SELECT window_start, count(*) AS n_events
    FROM assigned GROUP BY window_start
    """,
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window aggregation: window(ts, '10 min', '5 min') — each event
    lands in window_size/slide windows; the oracle reproduces Spark's
    window-assignment arithmetic with an explicit unnest."""
    e = load(spark, sf_dir, "events")
    win = F.window("ts", f"{TUMBLE_S} seconds", f"{SLIDE_S} seconds")
    return (
        e.groupBy(win.alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_timestamp("w.start").alias("window_start"), "n_events")
    )


SESSION_GAP_S = 300


@register(
    "stream_session_window",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                        > {SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT user_id, ts,
               sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered)
    SELECT user_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, session_id
    """,
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute gap) per user: native session_window in
    Spark; the oracle is the classic gaps-and-islands rewrite (lag → flag →
    running sum), proving the semantics match. Session start is truncated to
    whole seconds for the compare."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.session_window("ts", f"{SESSION_GAP_S} seconds").alias("w"), "user_id"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.floor(F.unix_timestamp("w.start")).alias("session_start"),
            "n_events",
        )
    )


@register(
    "stream_dedup_keys",
    oracle="""
    SELECT user_id, event_type, min(event_id) AS first_event_id
    FROM events GROUP BY user_id, event_type
    """,
)
def stream_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates-within-watermark semantics in batch form: first event
    per (user, type). Streaming twin: stream_ops.dedup_within_watermark."""
    e = load(spark, sf_dir, "events")
    return e.groupBy("user_id", "event_type").agg(
        F.min("event_id").alias("first_event_id")
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM events c JOIN events v
      ON v.user_id = c.user_id AND v.event_type = 'view'
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 5 MINUTE
    WHERE c.event_type = 'click'
    """,
)
def stream_stream_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join in batch form: every click paired with
    the same user's views from the preceding 5 minutes. The SAME builder
    (stream_ops.click_view_interval_join) runs live with watermarks on both
    sides — bounded state via the time-bound join condition; the live
    parity test is tests/test_streaming.py."""
    from .stream_ops import click_view_interval_join

    e = load(spark, sf_dir, "events")
    return click_view_interval_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "view"),
    )


@register(
    "stream_stream_left_outer",
    oracle="""
    SELECT c.user_id, c.event_id AS click_id, c.ts AS click_ts,
           v.event_id AS view_id, v.ts AS view_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON v.user_id = c.user_id
     AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 5 MINUTE
    """,
)
def stream_stream_left_outer_batch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Left-outer stream-stream interval join in batch form: every click,
    paired with preceding-5-minute views where they exist, null-view
    otherwise. The SAME builder (stream_ops.click_view_left_outer_join)
    runs live, where the null rows are emitted only after watermark expiry
    — that deferred-emission path is pinned against this batch form in
    tests/test_streaming.py."""
    from .stream_ops import click_view_left_outer_join

    e = load(spark, sf_dir, "events")
    return click_view_left_outer_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "view"),
    )


@register(
    "stream_rollup_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM events GROUP BY 1, 2
    """,
)
def stream_rollup_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The continuous hourly rollup's batch twin: what the incrementally
    maintained table (stream_ops.stream_hourly_rollup) must equal no matter
    how the stream was batched — scaled-integer sums make the equality
    exact across any batch split. Incremental==batch parity over multiple
    micro-batches is asserted live in tests/test_streaming.py."""
    e = load(spark, sf_dir, "events")
    return e.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(scaled_long(F.col("value"), 100)).alias(
            "value_cents"
        ),
    )


@register(
    "events_funnel",
    oracle="""
    WITH s1 AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL AND e.ts > s1.t1
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM s1 WHERE t1 IS NOT NULL) AS n_view,
           (SELECT count(*) FROM s2) AS n_click_after_view,
           (SELECT count(*) FROM s3) AS n_purchase_after_click
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel analysis (view → click → purchase, strictly ordered
    per user): each stage is a conditional-min aggregate joined back to
    gate the next — three aggregations on the SAME user_id key, so the
    shuffle partitioning is reused across stages. The classic
    event-sequence operator none of the window builtins express directly."""
    e = load(spark, sf_dir, "events")
    s1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    )
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1.filter(F.col("t1").isNotNull()), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    n1 = s1.filter(F.col("t1").isNotNull()).agg(
        F.count(F.lit(1)).alias("n_view")
    )
    n2 = s2.agg(F.count(F.lit(1)).alias("n_click_after_view"))
    n3 = s3.agg(F.count(F.lit(1)).alias("n_purchase_after_click"))
    return n1.join(n2).join(n3)


@register(
    "events_cohort_retention",
    oracle="""
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort_day
        FROM events GROUP BY user_id)
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day,
                          date_trunc('day', e.ts)) AS BIGINT) AS day_offset,
           count(DISTINCT e.user_id) AS n_active
    FROM events e JOIN first_seen f ON f.user_id = e.user_id
    GROUP BY 1, 2
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen day, activity
    counted per day-offset — first-seen is one aggregate, the matrix one
    more join + aggregate (distinct users per cell). Both shuffles key on
    user_id/cohort keys; at 100 TB the distinct-count switches to an HLL
    sketch (agg_approx_distinct) without changing the plan shape."""
    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        e.join(first_seen, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


@register(
    "win_session_features",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch(ts) - epoch(lag(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id))
                        > {SESSION_GAP_S}
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sessions AS (
        SELECT *, sum(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM ordered)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
           CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT)
               AS duration_s,
           count(*) AS n_events,
           count(DISTINCT event_type) AS n_event_types,
           CAST(count(*) = 1 AS BOOLEAN) AS is_bounce
    FROM sessions GROUP BY user_id, session_id
    """,
)
def win_session_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-level feature extraction (gaps-and-islands sessionization +
    per-session aggregates): duration, event count, type diversity, bounce
    flag — the feature block behind engagement/retention models. One
    window pass assigns session ids (running sum of gap breaks), one hash
    aggregation computes the features; both shuffle on user_id only."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    # Fractional-seconds gap, matching the oracle's epoch(ts): the fixture
    # timestamps carry sub-second fractions, and unix_timestamp() FLOORS to
    # whole seconds — a gap of e.g. 300.8s would floor to 300 and not break
    # the session while epoch() would, so hash parity held only by luck.
    gap = (
        F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
        > SESSION_GAP_S
    )
    sessions = e.withColumn(
        "session_id",
        F.sum(F.when(gap, 1).otherwise(0)).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    return sessions.groupBy("user_id", F.col("session_id").cast("long").alias("session_id")).agg(
        F.floor(F.unix_timestamp(F.min("ts"))).cast("long").alias("session_start"),
        (
            F.floor(F.unix_timestamp(F.max("ts")))
            - F.floor(F.unix_timestamp(F.min("ts")))
        )
        .cast("long")
        .alias("duration_s"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_event_types"),
        (F.count(F.lit(1)) == 1).alias("is_bounce"),
    )


TOPK_PER_WINDOW = 3


@register(
    "stream_topk_types",
    oracle=f"""
    WITH w AS (
        SELECT CAST(floor(epoch(ts) / {TUMBLE_S}) * {TUMBLE_S} AS BIGINT)
                   AS window_start,
               event_type, count(*) AS n_events
        FROM events GROUP BY 1, 2)
    SELECT window_start, event_type, n_events,
           CAST(rn AS BIGINT) AS rank_in_window
    FROM (SELECT *, row_number() OVER (
              PARTITION BY window_start
              ORDER BY n_events DESC, event_type) AS rn
          FROM w)
    WHERE rn <= {TOPK_PER_WINDOW}
    """,
)
def stream_topk_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k trending: the {TOPK_PER_WINDOW} most frequent event
    types per {TUMBLE_S}s tumbling window, full tie-break (count desc,
    type asc). The streaming shape every ops dashboard runs: the
    pre-aggregation collapses each window×type to ONE row before the rank
    window, so the rank sorts |types| rows per window, never events —
    state stays bounded no matter the event rate. In live mode the same
    plan runs as foreachBatch over the tumbling counts (the
    stream_tumbling_window machinery) with the rank applied per emitted
    watermark-complete window."""
    e = load(spark, sf_dir, "events")
    counts = (
        e.groupBy(
            F.window("ts", f"{TUMBLE_S} seconds").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    from pyspark.sql import Window

    rk = F.row_number().over(
        Window.partitionBy("window_start").orderBy(
            F.col("n_events").desc(), F.col("event_type").asc()
        )
    )
    return (
        counts.withColumn("rank_in_window", rk.cast("long"))
        .filter(F.col("rank_in_window") <= TOPK_PER_WINDOW)
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH s AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events)
    SELECT prev_type, event_type AS next_type,
           count(*) AS n_transitions,
           floor((count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev_type))
                 * 10000.0 + 0.5) / 10000.0 AS p_transition
    FROM s WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences
    (clickstream analogue of the reference's per-person vote-history
    ordering, scripts/bills/vote_matching.py:160-168): lag each user's
    event stream, count (prev → next) edges, normalize rows to
    probabilities.

    Scale shape: one shuffle keyed on user_id for the lag window (user
    sequences are short and hash-spread — no skew), then a hash aggregate
    on the (prev, next) alphabet, which is tiny (|types|²). The row
    normalization windows over that tiny aggregate, not the fact table.
    Tie-break (ts, event_id) makes the sequence — and thus the counts —
    deterministic under any partitioning."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = (
        e.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    g = (
        s.select("prev_type", F.col("event_type").alias("next_type"))
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    tot = F.sum("n_transitions").over(W.partitionBy("prev_type"))
    p = F.floor((F.col("n_transitions") * 1.0 / tot) * 10000.0 + 0.5) / 10000.0
    return g.select(
        "prev_type", "next_type", "n_transitions", p.alias("p_transition")
    )


TOPK_PATHS = 20


@register(
    "events_user_paths",
    oracle=f"""
    WITH s AS (
        SELECT event_type AS t1,
               lead(event_type, 1) OVER w AS t2,
               lead(event_type, 2) OVER w AS t3
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
    SELECT path, n_occurrences FROM (
        SELECT t1 || '>' || t2 || '>' || t3 AS path,
               count(*) AS n_occurrences,
               row_number() OVER (ORDER BY count(*) DESC,
                                  t1 || '>' || t2 || '>' || t3) AS rn
        FROM s WHERE t3 IS NOT NULL
        GROUP BY t1 || '>' || t2 || '>' || t3)
    WHERE rn <= {TOPK_PATHS}
    """,
)
def events_user_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOPK_PATHS} most frequent 3-step event paths across all user
    sessions — the path-mining companion to events_markov_transitions
    (paths keep ORDER context the 1-step transition matrix marginalizes
    away).

    Scale shape: one user-keyed window shuffle builds the trigram rows,
    then a hash aggregate over the path alphabet (≤ |types|³ keys, tiny,
    map-side combined); the final top-k ranks that aggregate, never the
    fact table. Tie-break on the path string keeps the cut deterministic."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = e.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    ).filter(F.col("t3").isNotNull())
    path = F.concat_ws(">", "t1", "t2", "t3")
    g = s.groupBy(path.alias("path")).agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    wr = W.orderBy(F.col("n_occurrences").desc(), F.col("path"))
    return (
        g.withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= TOPK_PATHS)
        .select("path", "n_occurrences")
    )


SPIKE_TRAIL = 3  # trailing hours in the baseline window
SPIKE_FACTOR = 2.0


@register(
    "events_rate_spike",
    oracle=f"""
    WITH h AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_start,
               count(*) AS n_events
        FROM events GROUP BY 1, 2),
    w AS (
        SELECT *,
               avg(n_events) OVER (PARTITION BY event_type ORDER BY hour_start
                                   ROWS BETWEEN {SPIKE_TRAIL} PRECEDING
                                            AND 1 PRECEDING) AS trailing_avg
        FROM h)
    SELECT event_type, hour_start, n_events,
           floor(trailing_avg * 10000.0 + 0.5) / 10000.0 AS trailing_avg,
           floor((n_events / trailing_avg) * 10000.0 + 0.5) / 10000.0
               AS spike_ratio,
           n_events >= {SPIKE_FACTOR} * trailing_avg AS is_spike
    FROM w WHERE trailing_avg IS NOT NULL
    """,
)
def events_rate_spike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rate-spike detection: each (event_type, hour) bucket compared to the
    average of its {SPIKE_TRAIL} preceding PRESENT buckets (a ROWS frame —
    calendar gaps compress, which is the alerting-friendly behavior for
    sparse types; ts_gap_fill supplies the spine when calendar frames are
    wanted). Flag fires at {SPIKE_FACTOR}× the trailing average.

    The trailing average is an integer-count ratio evaluated identically
    in both engines, so even the boolean cut is engine-exact. Scale shape:
    the hourly rollup collapses the fact table first (map-side combine);
    the window runs over |types|×|hours| rows only. The streaming twin is
    stream_rollup_hourly's incremental maintenance feeding this same
    window."""
    from pyspark.sql import Window as W

    e = load(spark, sf_dir, "events")
    h = (
        e.groupBy(
            "event_type",
            (F.floor(F.col("ts").cast("double") / 3600) * 3600)
            .cast("long")
            .alias("hour_start"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    w = (
        W.partitionBy("event_type")
        .orderBy("hour_start")
        .rowsBetween(-SPIKE_TRAIL, -1)
    )
    ta = F.avg("n_events").over(w)
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return (
        h.withColumn("trailing_avg", ta)
        .filter(F.col("trailing_avg").isNotNull())
        .select(
            "event_type",
            "hour_start",
            "n_events",
            r4(F.col("trailing_avg")).alias("trailing_avg"),
            r4(F.col("n_events") / F.col("trailing_avg")).alias("spike_ratio"),
            (F.col("n_events") >= SPIKE_FACTOR * F.col("trailing_avg")).alias(
                "is_spike"
            ),
        )
    )


CUSUM_H_CENTS = 2000  # drift alarm threshold: 20.00 sustained above mean


@register(
    "events_cusum_drift",
    oracle=f"""
    WITH v AS (
        SELECT event_id, ts, user_id,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events),
    u AS (
        SELECT user_id, sum(cents) AS sum_cents, count(*) AS n_u
        FROM v GROUP BY user_id),
    d AS (
        SELECT v.event_id, v.ts, v.user_id, u.n_u,
               v.cents * u.n_u - u.sum_cents AS dev
        FROM v JOIN u USING (user_id)),
    pr AS (
        SELECT event_id, ts, user_id, n_u,
               sum(dev) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS UNBOUNDED PRECEDING) AS pref
        FROM d),
    p AS (
        SELECT event_id, ts, user_id, n_u, pref,
               min(pref) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS pref_min
        FROM pr)
    SELECT event_id, user_id,
           CAST(pref - pref_min AS BIGINT) AS cusum_scaled,
           floor((pref - pref_min) * 1.0 / (100.0 * n_u) * 10000.0 + 0.5)
               / 10000.0 AS cusum,
           pref - pref_min > {CUSUM_H_CENTS} * n_u AS drift_alarm
    FROM p
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift detection per user (Page 1954, public): flags
    sustained upward shift of event value vs the user's own mean. The
    textbook recursion S_t = max(0, S_t-1 + x_t - k) is sequential — but
    it has an exact PREFIX-SUM identity: S_t = P_t - min_prefix(P_t) with
    P = cumsum(x - k), which turns the recursion into two stacked window
    frames, fully native and parallel within each user partition.

    Exactness is the repo's money rule taken further: with k = the user
    mean, deviations are kept in CENTS x n_u scale (dev = cents*n - sum),
    so cumsum, prefix-min, and the n_u-scaled alarm compare are all
    INTEGER arithmetic — no float drift anywhere; the readable 'cusum'
    column descales once, through the same floor-round both engines share.
    Scale: one tiny per-user aggregate broadcast back + one window shuffle
    on user_id — the events_rate_spike profile."""
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_id", "ts", "user_id",
        scaled_long(F.col("value"), 100).alias("cents"),
    )
    u = v.groupBy("user_id").agg(
        F.sum("cents").alias("sum_cents"), F.count(F.lit(1)).alias("n_u")
    )
    d = v.join(F.broadcast(u), "user_id").select(
        "event_id", "ts", "user_id", "n_u",
        (F.col("cents") * F.col("n_u") - F.col("sum_cents")).alias("dev"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    pref = F.sum("dev").over(w)
    p = d.select(
        "event_id", "user_id", "n_u",
        pref.alias("pref"), F.min(pref).over(w).alias("pref_min")
    )
    s = F.col("pref") - F.col("pref_min")
    return p.select(
        "event_id",
        "user_id",
        s.cast("long").alias("cusum_scaled"),
        (
            F.floor(s * 1.0 / (100.0 * F.col("n_u")) * 10000.0 + 0.5)
            / 10000.0
        ).alias("cusum"),
        (s > CUSUM_H_CENTS * F.col("n_u")).alias("drift_alarm"),
    )


ATTR_WINDOW_S = 1800  # attribution lookback: 30 minutes


@register(
    "events_attribution_last_touch",
    oracle=f"""
    WITH tagged AS (
        SELECT event_id, ts, user_id, event_type,
               CASE WHEN event_type IN ('click', 'view')
                    THEN struct_pack(t_ts := ts, t_id := event_id,
                                     t_type := event_type)
               END AS touch
        FROM events
        WHERE event_type IN ('click', 'view', 'purchase')),
    lastt AS (
        SELECT event_id, ts, user_id, event_type,
               last_value(touch IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS lt
        FROM tagged)
    SELECT event_id AS purchase_id, user_id,
           CASE WHEN lt.t_ts IS NOT NULL
                     AND epoch(ts) - epoch(lt.t_ts) <= {ATTR_WINDOW_S}
                THEN lt.t_id END AS touch_id,
           CASE WHEN lt.t_ts IS NOT NULL
                     AND epoch(ts) - epoch(lt.t_ts) <= {ATTR_WINDOW_S}
                THEN lt.t_type ELSE 'organic' END AS touch_type,
           CASE WHEN lt.t_ts IS NOT NULL
                     AND epoch(ts) - epoch(lt.t_ts) <= {ATTR_WINDOW_S}
                THEN CAST(floor(epoch(ts) - epoch(lt.t_ts)) AS BIGINT)
           END AS touch_age_s
    FROM lastt WHERE event_type = 'purchase'
    """,
)
def events_attribution_last_touch(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the same
    user's most recent click/view within a {ATTR_WINDOW_S}s lookback, else
    'organic'. Single-pass shape: tag touches as a nullable struct, one
    (user_id) window takes last-ignore-nulls over the strictly-preceding
    frame (1 PRECEDING — a touch at the purchase's own timestamp but a
    later event_id must NOT attribute, and the tie-break makes that
    deterministic), then the lookback cutoff filters stale touches.
    Fractional-epoch age (the win_session_features lesson: unix_timestamp
    floors, epoch() doesn't) floored once at the end.

    Scale: ONE window shuffle on user_id for the whole op — the as-of
    union+window machinery (operators/temporal.py) specialized to the
    same-table case; no self-join, no range join."""
    e = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view", "purchase")
    )
    touch = F.when(
        F.col("event_type").isin("click", "view"),
        F.struct(
            F.col("ts").alias("t_ts"),
            F.col("event_id").alias("t_id"),
            F.col("event_type").alias("t_type"),
        ),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    lt = e.select(
        "event_id", "ts", "user_id", "event_type", touch.alias("touch")
    ).withColumn("lt", F.last("touch", ignorenulls=True).over(w))
    age = F.col("ts").cast("double") - F.col("lt.t_ts").cast("double")
    ok = F.col("lt.t_ts").isNotNull() & (age <= ATTR_WINDOW_S)
    return lt.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.when(ok, F.col("lt.t_id")).alias("touch_id"),
        F.when(ok, F.col("lt.t_type")).otherwise(F.lit("organic")).alias(
            "touch_type"
        ),
        F.when(ok, F.floor(age).cast("long")).alias("touch_age_s"),
    )


@register(
    "events_seasonal_naive_mae",
    oracle="""
    WITH hc AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
               count(*) AS n
        FROM events GROUP BY 1, 2),
    scored AS (
        SELECT a.event_type, a.hour_id, a.n,
               coalesce(b.n, 0) AS forecast
        FROM hc a LEFT JOIN hc b
          ON b.event_type = a.event_type AND b.hour_id = a.hour_id - 24)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(abs(n - forecast)) AS BIGINT) AS abs_err_total,
           floor(sum(abs(n - forecast)) * 1.0 / count(*) * 10000.0 + 0.5)
               / 10000.0 AS mae
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
)
def events_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest (the forecasting-pipeline sanity
    baseline every fancier model must beat): predict each hour's event
    count with the SAME HOUR YESTERDAY, score MAE per event type. The
    day-ago lookup is a TIME-KEYED self equi-join on (type, hour_id-24)
    — not lag(24) over rows, which silently mis-predicts across gaps in
    the hour sequence. Absent history forecasts 0 (the honest cold-start
    penalty), and the error stays INTEGER until the single final
    division.

    Scale: the fact table collapses to (type, hour) first — the self-join
    and scoring run on the tiny aggregate, never on raw events."""
    e = load(spark, sf_dir, "events")
    hc = (
        e.select(
            "event_type",
            F.floor(F.unix_timestamp("ts") / 3600).cast("long").alias(
                "hour_id"
            ),
        )
        .groupBy("event_type", "hour_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    a = hc.alias("a")
    b = hc.alias("b")
    scored = a.join(
        b,
        (F.col("b.event_type") == F.col("a.event_type"))
        & (F.col("b.hour_id") == F.col("a.hour_id") - 24),
        "left",
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n"),
        F.coalesce(F.col("b.n"), F.lit(0)).alias("forecast"),
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hours"),
            F.sum(F.abs(F.col("n") - F.col("forecast")))
            .cast("long")
            .alias("abs_err_total"),
        )
        .select(
            "event_type",
            "n_hours",
            "abs_err_total",
            (
                F.floor(
                    F.col("abs_err_total") * 1.0 / F.col("n_hours") * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("mae"),
        )
        .orderBy("event_type")
    )


ENT_SCALE = 1_000_000  # per-term quantization for order-independent sums


@register(
    "events_type_entropy",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY user_id, event_type),
    u AS (
        SELECT user_id, sum(n) AS tot, count(*) AS n_types,
               sum(CAST(floor(n * ln(n) * {ENT_SCALE}) AS BIGINT)) AS q
        FROM c GROUP BY user_id)
    SELECT user_id, CAST(tot AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           floor((ln(tot) - q * 1.0 / {ENT_SCALE} / tot) * 10000.0 + 0.5)
               / 10000.0 AS type_entropy_nats
    FROM u
    """,
)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type mix — the behavioral-
    diversity feature (bot screening: single-type hammering scores 0; the
    corpus analogue is lang/domain diversity in mixture design). Uses the
    identity H = ln(N) − Σ c·ln(c)/N so only ONE float term per
    (user,type) exists, and that term is QUANTIZED to an integer
    (floor(c·ln c·1e6)) before the per-user sum — float summation in
    shuffle order would be order-dependent, integer summation is not
    (the RAKE/score_q discipline). ln(c) for identical integer c is
    bit-identical across engines, so the quantization agrees.

    Scale: two stacked aggregates, both map-side combined; output is
    |users| rows."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    u = c.groupBy("user_id").agg(
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.floor(F.col("n") * F.log(F.col("n")) * ENT_SCALE).cast("long")
        ).alias("q"),
    )
    return u.select(
        "user_id",
        F.col("tot").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        (
            F.floor(
                (
                    F.log(F.col("tot"))
                    - F.col("q") * 1.0 / ENT_SCALE / F.col("tot")
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("type_entropy_nats"),
    )


WAU_DAYS = 7


@register(
    "events_dau_wau_stickiness",
    oracle=f"""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_id
        FROM events),
    dau AS (SELECT day_id, count(*) AS dau FROM ud GROUP BY day_id),
    contrib AS (
        SELECT DISTINCT user_id, day_id + i AS day_id
        FROM ud, unnest(generate_series(0, {WAU_DAYS - 1})) u(i)),
    wau AS (SELECT day_id, count(*) AS wau FROM contrib GROUP BY day_id)
    SELECT d.day_id, CAST(d.dau AS BIGINT) AS dau,
           CAST(w.wau AS BIGINT) AS wau,
           floor(d.dau * 1.0 / w.wau * 10000.0 + 0.5) / 10000.0
               AS stickiness
    FROM dau d JOIN wau w USING (day_id)
    ORDER BY d.day_id
    """,
)
def events_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / trailing-{WAU_DAYS}-day WAU / stickiness per day — the
    product-analytics engagement triple. Sliding distinct-count done the
    distributed way: instead of re-scanning a 7-day window per day
    (7× the data per output row) or a sliding distinct window (not
    expressible), each (user, day) fact CONTRIBUTES itself to the 7
    window-end days it covers, and a second distinct+count collapses the
    contributions — shuffle volume is 7× the (user, day) relation, which
    is already collapsed from raw events. Days with no events report no
    row (inner join with DAU) rather than fabricating zeros.

    Scale: two distinct aggregates + one bounded explode; no window over
    the raw fact table."""
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_id"),
    ).distinct()
    dau = ud.groupBy("day_id").agg(F.count(F.lit(1)).alias("dau"))
    contrib = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(
                    F.col("day_id"), F.col("day_id") + (WAU_DAYS - 1)
                )
            ).alias("day_id"),
        )
        .distinct()
    )
    wau = contrib.groupBy("day_id").agg(F.count(F.lit(1)).alias("wau"))
    return (
        dau.join(wau, "day_id")
        .select(
            "day_id",
            F.col("dau").cast("long").alias("dau"),
            F.col("wau").cast("long").alias("wau"),
            (
                F.floor(F.col("dau") * 1.0 / F.col("wau") * 10000.0 + 0.5)
                / 10000.0
            ).alias("stickiness"),
        )
        .orderBy("day_id")
    )


PL_SCALE = 1_000_000_000


@register(
    "events_powerlaw_alpha",
    oracle=f"""
    WITH c AS (
        SELECT user_id, count(*) AS n FROM events GROUP BY user_id),
    s AS (
        SELECT count(*) AS n_users,
               sum(CAST(floor(ln(n) * {PL_SCALE}) AS BIGINT)) AS lq,
               max(n) AS max_activity
        FROM c)
    SELECT CAST(n_users AS BIGINT) AS n_users,
           CAST(max_activity AS BIGINT) AS max_activity,
           floor((1.0 + n_users / (lq * 1.0 / {PL_SCALE})) * 10000.0 + 0.5)
               / 10000.0 AS alpha_mle
    FROM s
    """,
)
def events_powerlaw_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of the user-activity distribution — the
    Clauset–Shalizi–Newman MLE α = 1 + n / Σ ln(x_i/x_min) with
    x_min = 1, the quantitative form of 'how heavy is the key skew'
    (α ≲ 2 means the hottest keys dominate shuffles and the salting
    levers in operators/skew.py stop being optional; the Gini op gives
    the same warning in [0,1] units). ln terms quantized to integers
    before the global sum, single tiny pivot.

    Scale: one per-user count aggregate, one 1-row reduction."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    s = c.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.floor(F.log(F.col("n")) * PL_SCALE).cast("long")
        ).alias("lq"),
        F.max("n").alias("max_activity"),
    )
    return s.select(
        F.col("n_users").cast("long").alias("n_users"),
        F.col("max_activity").cast("long").alias("max_activity"),
        (
            F.floor(
                (
                    1.0
                    + F.col("n_users") / (F.col("lq") * 1.0 / PL_SCALE)
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("alpha_mle"),
    )


@register(
    "events_longest_streak",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_id
        FROM events),
    grp AS (
        SELECT user_id, day_id,
               day_id - row_number() OVER (PARTITION BY user_id
                                           ORDER BY day_id) AS g
        FROM days),
    runs AS (
        SELECT user_id, count(*) AS run_len, min(day_id) AS run_start
        FROM grp GROUP BY user_id, g)
    SELECT user_id,
           CAST(max(run_len) AS BIGINT) AS longest_streak_days,
           CAST(min(run_start) FILTER (WHERE run_len = (
               SELECT max(r2.run_len) FROM runs r2
               WHERE r2.user_id = runs.user_id)) AS BIGINT)
               AS best_streak_start
    FROM runs GROUP BY user_id
    """,
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the engagement
    metric, solved with the gaps-and-islands identity (day_id − asc-rank
    is constant exactly within a consecutive run, so runs become groups
    without self-joins). Ties on run length resolve to the EARLIEST
    streak start, deterministically on both engines. Pure integer day
    arithmetic end to end.

    Scale: distinct (user, day) collapse first, one user-keyed window,
    two stacked aggregates — identical partitioning throughout, so one
    shuffle total."""
    e = load(spark, sf_dir, "events")
    days = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_id"),
    ).distinct()
    w = W.partitionBy("user_id").orderBy("day_id")
    grp = days.withColumn(
        "g", F.col("day_id") - F.row_number().over(w)
    )
    runs = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("run_len"),
        F.min("day_id").alias("run_start"),
    )
    best = Top1(runs, [("run_len", DESC), ("run_start", ASC)])
    return runs.groupBy("user_id").agg(
        best["run_len"].alias("longest_streak_days"),
        best["run_start"].alias("best_streak_start"),
    )


def _mh_agree_sql(x: str, y: str) -> str:
    from ..operators.dedup import N_MINHASH

    return " + ".join(
        f"(CASE WHEN {x}.mh{j} = {y}.mh{j} THEN 1 ELSE 0 END)"
        for j in range(N_MINHASH)
    )


def _stream_dedup_minhash_oracle() -> str:
    from ..operators.dedup import SQL_SHINGLES, _minhash_sql, _bands_sql
    from .stream_ops import MIN_MH_MATCH

    return f"""
    WITH RECURSIVE sh AS (
        SELECT doc_id, {SQL_SHINGLES} AS sh FROM documents),
    shh AS (
        SELECT doc_id, list_transform(sh, s -> md5(s)) AS shh
        FROM sh WHERE len(sh) > 0),
    mh AS (SELECT doc_id, {_minhash_sql()} FROM shh),
    bands AS (
        SELECT doc_id, i - 1 AS band_idx, [{_bands_sql()}][i] AS band_hash
        FROM mh, unnest(generate_series(1, 4)) AS u(i)),
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
         AND a.doc_id < b.doc_id),
    ver AS (
        SELECT d1, d2 FROM cand
        JOIN mh x ON x.doc_id = cand.d1
        JOIN mh y ON y.doc_id = cand.d2
        WHERE {_mh_agree_sql('x', 'y')} >= {MIN_MH_MATCH}),
    edges AS (
        SELECT d1 AS a, d2 AS b FROM ver
        UNION SELECT d2, d1 FROM ver),
    reach(a, b) AS (
        SELECT a, b FROM edges
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a)
    SELECT m.doc_id,
           least(m.doc_id, coalesce(min(r.b), m.doc_id)) AS canonical_id
    FROM mh m LEFT JOIN reach r ON r.a = m.doc_id
    GROUP BY m.doc_id
    """


@register("stream_dedup_minhash", oracle=_stream_dedup_minhash_oracle())
def stream_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the unbounded-history NEAR-dup dedup
    (stream_ops.make_minhash_dedup_merge_batch): band-collision candidates
    over all docs, minhash-agreement verify (>= MIN_MH_MATCH of 8),
    transitive closure, canonical = min doc_id per component. The live
    incremental fold — signature-table state, union-find-style retroactive
    relabeling — must equal THIS in any batch split and arrival
    order (asserted in
    tests/test_streaming.py). The oracle expresses the closure as a
    recursive reachability CTE, so even the component step is
    hash-verified cross-engine (the one step dedup_components left
    rows-only)."""
    from ..operators.ckpt import shared_stream_components

    return shared_stream_components(spark, sf_dir).orderBy("doc_id")


@register(
    "events_user_features",
    oracle=f"""
    WITH c AS (
        SELECT user_id, event_type, count(*) AS n
        FROM events GROUP BY user_id, event_type),
    ent AS (
        SELECT user_id, sum(n) AS tot, count(*) AS n_types,
               sum(CAST(floor(n * ln(n) * {ENT_SCALE}) AS BIGINT)) AS q
        FROM c GROUP BY user_id),
    base AS (
        SELECT user_id,
               count(*) AS n_events,
               sum(CAST(round(value * 100, 0) AS BIGINT)) AS total_cents,
               CAST(floor(epoch(min(ts))) AS BIGINT) AS first_s,
               CAST(floor(epoch(max(ts))) AS BIGINT) AS last_s,
               count(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT))
                   AS active_days
        FROM events GROUP BY user_id),
    g AS (SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS now_s FROM events)
    SELECT b.user_id,
           CAST(b.n_events AS BIGINT) AS n_events,
           CAST(e.n_types AS BIGINT) AS n_types,
           CAST(b.total_cents AS BIGINT) AS total_cents,
           CAST(g.now_s - b.last_s AS BIGINT) AS recency_s,
           CAST(b.last_s - b.first_s AS BIGINT) AS tenure_s,
           CAST(b.active_days AS BIGINT) AS active_days,
           floor((ln(e.tot) - e.q * 1.0 / {ENT_SCALE} / e.tot) * 10000.0
                 + 0.5) / 10000.0 AS type_entropy_nats
    FROM base b JOIN ent e ON e.user_id = b.user_id CROSS JOIN g
    """,
)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user FEATURE MATRIX in one composed DAG — the feature-store
    assembly step of a behavioral-model pipeline: RFM (recency vs the
    corpus clock, tenure, frequency, integer-cents monetary), activity
    breadth (distinct active days, distinct types) and behavioral
    diversity (the quantized type entropy events_type_entropy proves).
    Two shuffles total, both keyed on user_id — the (user,type) pre-
    aggregate feeding entropy and the base per-user aggregate — joined
    user-to-user (co-partitioned, no third repartition) plus one
    broadcast scalar for the corpus 'now'. This is the wide-table shape
    feature stores materialize nightly; every feature stays exact-integer
    until the single stable-rounded entropy."""
    e = load(spark, sf_dir, "events")
    c = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    ent = c.groupBy("user_id").agg(
        F.sum("n").alias("tot"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum(
            F.floor(F.col("n") * F.log(F.col("n")) * ENT_SCALE).cast("long")
        ).alias("q"),
    )
    day = F.floor(F.unix_timestamp("ts") / 86400).cast("long")
    base = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(scaled_long(F.col("value"), 100)).alias(
            "total_cents"
        ),
        F.floor(F.unix_timestamp(F.min("ts"))).cast("long").alias("first_s"),
        F.floor(F.unix_timestamp(F.max("ts"))).cast("long").alias("last_s"),
        F.countDistinct(day).alias("active_days"),
    )
    g = e.agg(
        F.floor(F.unix_timestamp(F.max("ts"))).cast("long").alias("now_s")
    )
    return (
        base.join(ent, "user_id")
        .join(F.broadcast(g))
        .select(
            "user_id",
            F.col("n_events").cast("long").alias("n_events"),
            F.col("n_types").cast("long").alias("n_types"),
            F.col("total_cents").cast("long").alias("total_cents"),
            (F.col("now_s") - F.col("last_s"))
            .cast("long")
            .alias("recency_s"),
            (F.col("last_s") - F.col("first_s"))
            .cast("long")
            .alias("tenure_s"),
            F.col("active_days").cast("long").alias("active_days"),
            (
                F.floor(
                    (
                        F.log(F.col("tot"))
                        - F.col("q") * 1.0 / ENT_SCALE / F.col("tot")
                    )
                    * 10000.0
                    + 0.5
                )
                / 10000.0
            ).alias("type_entropy_nats"),
        )
    )


def _curation_oracle() -> str:
    from ..operators.textstats import sql_qc_sum_w

    return f"""
    WITH scored AS (
        SELECT doc_id, md5(text) AS content_hash,
               len(regexp_extract_all(text, '[a-z0-9]+')) AS n_tokens,
               {sql_qc_sum_w('text')} AS sum_w
        FROM documents),
    gated AS (
        SELECT * FROM scored WHERE n_tokens > 0 AND sum_w >= 0)
    SELECT content_hash, min(doc_id) AS doc_id,
           CAST(min_by(n_tokens, doc_id) AS BIGINT) AS n_tokens,
           CAST(min_by(sum_w, doc_id) AS BIGINT) AS sum_w
    FROM gated GROUP BY content_hash
    """


@register("stream_curation_pipeline", oracle=_curation_oracle())
def stream_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the incremental curation maintainer
    (stream_ops.make_curation_merge_batch): classifier gate → exact dedup
    keep-lowest → the kept-corpus relation. The live incremental fold
    (anti-join vs accumulated state, epoch-idempotent commits) must equal
    THIS under ascending-doc_id arrival — asserted in
    tests/test_streaming.py."""
    from ..operators.dedup import tokens as _tokens
    from ..operators.textstats import qc_sum_w

    from ..operators.dedup import TOKEN_RE as _TOKEN_RE

    d = load(spark, sf_dir, "documents")
    # round-10 layering (ml_bradley_terry class): the old single select
    # inlined the tokenize regex into size() and the weight fold, and the
    # filter's pushed-down copies re-evaluated both below the projection
    # (4 regex + 2 md5-folds per row). Emptiness-gate on the cheap rlike
    # precursor (hits iff extract_all non-empty; NULL text drops in both
    # forms), tokenize ONCE in a layered projection, and keep only the
    # irreducible sum_w fold. Same rows, same values — oracle unchanged.
    scored = (
        d.filter(F.col("text").rlike(_TOKEN_RE))
        .select(
            "doc_id",
            F.md5("text").alias("content_hash"),
            _tokens(F.col("text")).alias("toks"),
        )
        .select(
            "doc_id",
            "content_hash",
            F.size("toks").cast("long").alias("n_tokens"),
            qc_sum_w(F.col("toks")).alias("sum_w"),
        )
    )
    # the sum_w >= 0 gate lives INSIDE the aggregate (null-keyed min/
    # min_by rows are skipped — semantics pinned above): a plain .filter
    # here gets predicate-pushed below the projection and re-evaluates
    # the whole regex+fold a second time per row in the Filter node.
    # Groups with no passing row aggregate to NULL and drop after.
    keep_id = F.when(F.col("sum_w") >= 0, F.col("doc_id"))
    return (
        scored.groupBy("content_hash")
        .agg(
            F.min(keep_id).alias("doc_id"),
            F.min_by(F.col("n_tokens"), keep_id).cast("long").alias(
                "n_tokens"
            ),
            F.min_by(F.col("sum_w"), keep_id).cast("long").alias("sum_w"),
        )
        .filter(F.col("doc_id").isNotNull())
    )


@register(
    "events_attribution_linear",
    oracle=f"""
    WITH p AS (
        SELECT event_id AS p_id, user_id, ts AS p_ts,
               CAST(round(value * 100, 0) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
    t AS (
        SELECT event_id AS t_id, user_id, ts AS t_ts,
               event_type AS t_type
        FROM events WHERE event_type IN ('click', 'view')),
    j AS (
        SELECT p.p_id, p.cents, t.t_id, t.t_type
        FROM p LEFT JOIN t
          ON p.user_id = t.user_id
         AND (t.t_ts < p.p_ts OR (t.t_ts = p.p_ts AND t.t_id < p.p_id))
         AND epoch(p.p_ts) - epoch(t.t_ts) <= {ATTR_WINDOW_S}),
    c AS (
        SELECT p_id, cents, t_id,
               coalesce(t_type, 'organic') AS touch_type,
               count(t_id) OVER (PARTITION BY p_id) AS n_touches
        FROM j),
    k AS (
        SELECT p_id, touch_type,
               CASE WHEN t_id IS NULL THEN cents * 1000000
                    ELSE (cents * 1000000) // n_touches
               END AS credit
        FROM c)
    SELECT touch_type,
           CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases,
           CAST(count(*) AS BIGINT) AS n_credits,
           CAST(sum(credit) AS BIGINT) AS credited_microcents,
           floor(sum(credit) / 100000000.0 * 10000.0 + 0.5) / 10000.0
               AS credited_usd
    FROM k GROUP BY touch_type
    """,
)
def events_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-credit) multi-touch attribution — the report-side
    complement of events_attribution_last_touch: every click/view in the
    {ATTR_WINDOW_S}s lookback strictly before a purchase (same (ts,
    event_id) tie-break as last-touch) splits that purchase's revenue
    equally; untouched purchases land in an 'organic' bucket at full
    value. Output is the per-channel credited-revenue rollup.

    Determinism: credit is integer micro-cents with INTEGER division
    (cents*1e6 // n_touches) — order-independent sums, the division
    remainder is deliberately dropped (documented; production would
    assign it to the last touch). No floats until the final display
    round.

    Scale shape: purchases and touches co-shuffle ONCE on user_id (the
    natural key; per-user fan-out is bounded by the lookback window),
    the per-purchase touch count is a p_id window over the already-
    joined pairs (second shuffle on p_id), and the final channel rollup
    is a 3-row hash agg. No unbounded self-join: the time predicate is
    applied inside the join, and AQE's skew-join split handles heavy
    users."""
    e = load(spark, sf_dir, "events")
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        "user_id",
        F.col("ts").alias("p_ts"),
        scaled_long(F.col("value"), 100).alias("cents"),
    )
    t = e.filter(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("t_id"),
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("t_type"),
    )
    before = (F.col("t_ts") < F.col("p_ts")) | (
        (F.col("t_ts") == F.col("p_ts")) & (F.col("t_id") < F.col("p_id"))
    )
    age_ok = (
        F.col("p_ts").cast("double") - F.col("t_ts").cast("double")
    ) <= ATTR_WINDOW_S
    j = p.join(
        t, (F.col("user_id") == F.col("t_user")) & before & age_ok, "left"
    )
    c = j.select(
        "p_id",
        "cents",
        "t_id",
        F.coalesce(F.col("t_type"), F.lit("organic")).alias("touch_type"),
    ).withColumn(
        "n_touches", F.count("t_id").over(W.partitionBy("p_id"))
    )
    credit = F.when(
        F.col("t_id").isNull(), F.col("cents") * 1000000
    ).otherwise(F.expr("(cents * 1000000L) div n_touches"))
    k = c.select("p_id", "touch_type", credit.alias("credit"))
    return k.groupBy("touch_type").agg(
        F.countDistinct("p_id").cast("long").alias("n_purchases"),
        F.count(F.lit(1)).cast("long").alias("n_credits"),
        F.sum("credit").cast("long").alias("credited_microcents"),
        (
            F.floor(F.sum("credit") / 100000000.0 * 10000.0 + 0.5) / 10000.0
        ).alias("credited_usd"),
    )


@register(
    "events_type_hour_mi",
    oracle=f"""
    WITH xy AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_xy
        FROM events GROUP BY 1, 2),
    x AS (SELECT event_type, sum(n_xy) AS n_x FROM xy GROUP BY 1),
    y AS (SELECT hr, sum(n_xy) AS n_y FROM xy GROUP BY 1),
    t AS (SELECT sum(n_xy) AS tot, count(*) AS n_cells FROM xy),
    q AS (
        SELECT sum(CAST(floor(
                   n_xy * ln((t.tot * n_xy * 1.0) / (x.n_x * y.n_y))
                   * {ENT_SCALE}) AS BIGINT)) AS mi_q,
               max(t.tot) AS tot,
               count(DISTINCT xy.event_type) AS n_types,
               count(DISTINCT xy.hr) AS n_hours
        FROM xy JOIN x ON xy.event_type = x.event_type
                JOIN y ON xy.hr = y.hr
                CROSS JOIN t)
    SELECT CAST(tot AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(n_hours AS BIGINT) AS n_hours,
           floor(mi_q * 1.0 / {ENT_SCALE} / tot * 10000.0 + 0.5) / 10000.0
               AS mi_nats
    FROM q
    """,
)
def events_type_hour_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between event type and hour-of-day — the
    dependence screen feature selection runs before building behavioral
    features (MI 0 ⇒ the hour tells you nothing about the action; high
    MI ⇒ time-of-day features carry signal). I(X;Y) = (1/N) Σ c_xy ·
    ln(N·c_xy / (c_x·c_y)): every log argument is an exact integer
    ratio, each term is quantized to a {ENT_SCALE}-scaled BIGINT before
    the sum (events_type_entropy's order-independence discipline), and
    only the final display value divides.

    Scale shape: one (type, hour) hash agg over the corpus — the cell
    table is domain-bounded (|types|×24), so the two marginal
    re-aggregations and the joint join are all tiny; a single broadcast
    attaches the 1-row total. One corpus scan, map-side combined."""
    e = load(spark, sf_dir, "events")
    xy = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_xy"))
    xy = xy.persist()  # feeds the joint term and both marginals
    x = xy.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    y = xy.groupBy("hr").agg(F.sum("n_xy").alias("n_y"))
    t = xy.agg(
        F.sum("n_xy").alias("tot"), F.count(F.lit(1)).alias("n_cells")
    )
    term = F.floor(
        F.col("n_xy")
        * F.log(
            (F.col("tot") * F.col("n_xy") * 1.0)
            / (F.col("n_x") * F.col("n_y"))
        )
        * ENT_SCALE
    ).cast("long")
    q = (
        xy.join(x, "event_type")
        .join(y, "hr")
        .join(F.broadcast(t))
        .agg(
            F.sum(term).alias("mi_q"),
            F.max("tot").alias("tot"),
            F.countDistinct("event_type").alias("n_types"),
            F.countDistinct("hr").alias("n_hours"),
        )
    )
    return q.select(
        F.col("tot").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_hours").cast("long").alias("n_hours"),
        (
            F.floor(
                F.col("mi_q") * 1.0 / ENT_SCALE / F.col("tot") * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("mi_nats"),
    )


@register(
    "events_chi2_independence",
    oracle=f"""
    WITH xy AS (
        SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_xy
        FROM events GROUP BY 1, 2),
    x AS (SELECT event_type, sum(n_xy) AS n_x FROM xy GROUP BY 1),
    y AS (SELECT hr, sum(n_xy) AS n_y FROM xy GROUP BY 1),
    t AS (SELECT sum(n_xy) AS tot FROM xy),
    grid AS (
        SELECT x.event_type, y.hr, x.n_x, y.n_y, t.tot,
               coalesce(xy.n_xy, 0) AS o
        FROM x CROSS JOIN y CROSS JOIN t
        LEFT JOIN xy ON xy.event_type = x.event_type AND xy.hr = y.hr),
    q AS (
        SELECT sum(CAST(floor(
                   ((o * tot - n_x * n_y) * 1.0 * (o * tot - n_x * n_y))
                   / (tot * 1.0 * n_x * n_y)
                   * {ENT_SCALE}) AS BIGINT)) AS chi2_q,
               max(tot) AS tot,
               count(DISTINCT event_type) AS n_types,
               count(DISTINCT hr) AS n_hours
        FROM grid)
    SELECT CAST(tot AS BIGINT) AS n_events,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(n_hours AS BIGINT) AS n_hours,
           CAST((n_types - 1) * (n_hours - 1) AS BIGINT) AS dof,
           floor(chi2_q * 1.0 / {ENT_SCALE} * 10000.0 + 0.5) / 10000.0
               AS chi2,
           floor(sqrt(chi2_q * 1.0 / {ENT_SCALE} / tot
                      / nullif(least(n_types - 1, n_hours - 1), 0))
                     * 10000.0 + 0.5)
               / 10000.0 AS cramers_v
    FROM q
    """,
)
def events_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-squared independence test between event type and
    hour-of-day, with Cramér's V effect size — the classical-test
    companion to events_type_hour_mi (MI says how much information, V
    says how strong the association on a 0-1 scale; a pipeline alerts
    when V drifts). Terms use the exact-integer identity (o·N −
    cx·cy)²/(N·cx·cy) — numerator exactly representable, ONE division
    per cell, quantized before the sum — and the FULL X×Y grid
    contributes (zero-observed cells still add their expectation, which
    per-cell skipping would silently drop).

    Scale shape: the observed table is one corpus hash agg; the grid is
    a cross join of two domain-bounded marginals (|types|×24 rows) —
    nothing here grows with the data except the single scan."""
    e = load(spark, sf_dir, "events")
    xy = e.groupBy(
        "event_type", F.hour("ts").cast("long").alias("hr")
    ).agg(F.count(F.lit(1)).alias("n_xy")).persist()
    x = xy.groupBy("event_type").agg(F.sum("n_xy").alias("n_x"))
    y = xy.groupBy("hr").agg(F.sum("n_xy").alias("n_y"))
    t = xy.agg(F.sum("n_xy").alias("tot"))
    grid = (
        x.crossJoin(y)
        .join(F.broadcast(t))
        .join(xy, ["event_type", "hr"], "left")
        .withColumn("o", F.coalesce(F.col("n_xy"), F.lit(0)))
    )
    dev = F.col("o") * F.col("tot") - F.col("n_x") * F.col("n_y")
    term = F.floor(
        (dev * 1.0 * dev)
        / (F.col("tot") * 1.0 * F.col("n_x") * F.col("n_y"))
        * ENT_SCALE
    ).cast("long")
    q = grid.agg(
        F.sum(term).alias("chi2_q"),
        F.max("tot").alias("tot"),
        F.countDistinct("event_type").alias("n_types"),
        F.countDistinct("hr").alias("n_hours"),
    )
    chi2 = F.col("chi2_q") * 1.0 / ENT_SCALE
    return q.select(
        F.col("tot").cast("long").alias("n_events"),
        F.col("n_types").cast("long").alias("n_types"),
        F.col("n_hours").cast("long").alias("n_hours"),
        ((F.col("n_types") - 1) * (F.col("n_hours") - 1))
        .cast("long")
        .alias("dof"),
        (F.floor(chi2 * 10000.0 + 0.5) / 10000.0).alias("chi2"),
        (
            F.floor(
                F.sqrt(
                    chi2
                    / F.col("tot")
                    / F.expr(
                        "nullif(least(n_types - 1, n_hours - 1), 0)"
                    )
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("cramers_v"),
    )


KM_CENSOR_GAP_S = 7 * 86400  # still active within 7 days of corpus end


@register(
    "events_kaplan_meier",
    oracle=f"""
    WITH bounds AS (SELECT max(ts) AS mx FROM events),
    u AS (
        SELECT user_id,
               CAST(floor((epoch(max(ts)) - epoch(min(ts))) / 86400.0)
                    AS BIGINT) AS dur_days,
               epoch(max(b.mx)) - epoch(max(ts)) > {KM_CENSOR_GAP_S}
                   AS churned
        FROM events CROSS JOIN bounds b
        GROUP BY user_id),
    t AS (SELECT count(*) AS n_users FROM u),
    d AS (
        SELECT dur_days,
               sum(CASE WHEN churned THEN 1 ELSE 0 END) AS d_i,
               count(*) AS ending
        FROM u GROUP BY dur_days),
    r AS (
        SELECT dur_days, d_i, ending,
               t.n_users
               - coalesce(sum(ending) OVER (
                     ORDER BY dur_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_at_risk
        FROM d CROSS JOIN t),
    s AS (
        SELECT dur_days, d_i, n_at_risk,
               sum(CASE WHEN d_i > 0 THEN CAST(floor(
                       ln((n_at_risk - d_i) * 1.0 / n_at_risk)
                       * 1000000000) AS BIGINT) ELSE 0 END)
                   OVER (ORDER BY dur_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS lnq
        FROM r)
    SELECT dur_days,
           CAST(d_i AS BIGINT) AS n_churned,
           CAST(n_at_risk AS BIGINT) AS n_at_risk,
           floor(exp(lnq * 1.0 / 1000000000) * 10000.0 + 0.5) / 10000.0
               AS survival
    FROM s
    """,
)
def events_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve of user lifetime (1958, the standard
    right-censored churn estimator): per user, lifetime = days between
    first and last event; users still active within {KM_CENSOR_GAP_S}s of
    the corpus end are CENSORED (they leave the risk set without counting
    as churn — the whole point of KM vs a naive churn histogram). Output
    is one row per distinct lifetime: churn events, risk-set size, and
    the product-limit survival estimate.

    The product Π(1 − d/n) is computed as exp of a CUMULATIVE SUM of
    per-time ln terms, each an exact-integer ratio quantized to a 1e9
    BIGINT before the window sum — the running-product analogue of the
    quantize-then-sum discipline (a float cumprod would accumulate
    engine-specific rounding). The risk set comes from one total minus a
    strictly-preceding cumulative of lifetimes ended — no self-join.

    Scale shape: one user-keyed agg over the corpus (map-side combined),
    then everything operates on the |distinct lifetimes|-bounded curve
    table; the two curve windows are single-partition over that tiny
    frame only."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(F.max("ts").alias("mx"))
    u = (
        e.join(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.floor(
                (
                    F.max(F.col("ts").cast("double"))
                    - F.min(F.col("ts").cast("double"))
                )
                / 86400.0
            )
            .cast("long")
            .alias("dur_days"),
            (
                F.max(F.col("mx").cast("double"))
                - F.max(F.col("ts").cast("double"))
                > KM_CENSOR_GAP_S
            ).alias("churned"),
        )
    )
    t = u.agg(F.count(F.lit(1)).alias("n_users"))
    d = u.groupBy("dur_days").agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0)).alias("d_i"),
        F.count(F.lit(1)).alias("ending"),
    )
    wprev = (
        W.orderBy("dur_days").rowsBetween(W.unboundedPreceding, -1)
    )
    wcur = W.orderBy("dur_days").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    r = d.join(F.broadcast(t)).withColumn(
        "n_at_risk",
        F.col("n_users")
        - F.coalesce(F.sum("ending").over(wprev), F.lit(0)),
    )
    term = F.when(
        F.col("d_i") > 0,
        F.floor(
            F.log(
                (F.col("n_at_risk") - F.col("d_i"))
                * 1.0
                / F.col("n_at_risk")
            )
            * 1000000000
        ).cast("long"),
    ).otherwise(F.lit(0))
    s = r.withColumn("lnq", F.sum(term).over(wcur))
    return s.select(
        "dur_days",
        F.col("d_i").cast("long").alias("n_churned"),
        F.col("n_at_risk").cast("long").alias("n_at_risk"),
        (
            F.floor(
                F.exp(F.col("lnq") * 1.0 / 1000000000) * 10000.0 + 0.5
            )
            / 10000.0
        ).alias("survival"),
    )


WF_WINDOW_H = 48  # max hours allowed between consecutive funnel steps


@register(
    "events_window_funnel",
    oracle=f"""
    WITH s1 AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END) AS t1
        FROM events GROUP BY user_id),
    s2 AS (
        SELECT e.user_id, min(e.ts) AS t2
        FROM events e JOIN s1 ON s1.user_id = e.user_id
        WHERE e.event_type = 'click' AND s1.t1 IS NOT NULL
          AND e.ts > s1.t1
          AND e.ts <= s1.t1 + INTERVAL {WF_WINDOW_H} HOUR
        GROUP BY e.user_id),
    s3 AS (
        SELECT e.user_id, min(e.ts) AS t3
        FROM events e JOIN s2 ON s2.user_id = e.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
          AND e.ts <= s2.t2 + INTERVAL {WF_WINDOW_H} HOUR
        GROUP BY e.user_id),
    j AS (
        SELECT s1.user_id, s1.t1, s2.t2, s3.t3
        FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
                LEFT JOIN s3 ON s3.user_id = s1.user_id
        WHERE s1.t1 IS NOT NULL)
    SELECT count(*) AS n_view,
           count(t2) AS n_click_48h,
           count(t3) AS n_purchase_48h,
           floor(CAST(count(t2) AS DOUBLE)
                 / nullif(CAST(count(*) AS DOUBLE), 0.0)
                 * 10000.0 + 0.5) / 10000.0 AS conv_click,
           floor(CASE WHEN count(t2) = 0 THEN 0.0
                      ELSE CAST(count(t3) AS DOUBLE)
                           / CAST(count(t2) AS DOUBLE) END
                 * 10000.0 + 0.5) / 10000.0 AS conv_purchase,
           floor(CASE WHEN count(t3) = 0 THEN 0.0
                      ELSE CAST(sum(date_diff('microsecond', t1, t3))
                                AS DOUBLE)
                           / (CAST(count(t3) AS DOUBLE) * 3600000000.0) END
                 * 10000.0 + 0.5) / 10000.0 AS avg_hours_to_convert
    FROM j
    """,
)
def events_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-CONSTRAINED conversion funnel (the windowFunnel analytic):
    view → click within {WF_WINDOW_H}h → purchase within {WF_WINDOW_H}h
    of that click, earliest-qualifying-step semantics per user, plus
    per-step conversion rates and the mean view→purchase latency.
    events_funnel answers "did the sequence ever happen"; this one
    answers the product question — "did it happen FAST enough to credit
    the journey" — which changes both counts and the latency metric.

    The step gate is interval arithmetic (ts <= prev + INTERVAL), never
    an epoch cast, so it is TIMESTAMP_NTZ-safe under the driver session
    (the win_session_features lesson, CLAUDE.md); the latency aggregate
    sums exact microsecond diffs as integers with one division at the
    end. Scale shape: same as events_funnel — three conditional-min
    aggregates re-using the user_id shuffle, two left joins on that
    same key, one global count row.
    """
    e = load(spark, sf_dir, "events")
    s1 = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t1")
    ).filter(F.col("t1").isNotNull())
    s2 = (
        e.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (
                F.col("ts")
                <= F.col("t1") + F.expr(f"INTERVAL {WF_WINDOW_H} HOUR")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        e.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (
                F.col("ts")
                <= F.col("t2") + F.expr(f"INTERVAL {WF_WINDOW_H} HOUR")
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    j = s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
    agg = j.agg(
        F.count(F.lit(1)).alias("n_view"),
        F.count("t2").alias("n_click_48h"),
        F.count("t3").alias("n_purchase_48h"),
        F.sum(
            F.unix_micros(F.col("t3")) - F.unix_micros(F.col("t1"))
        ).alias("us_sum"),
    )
    return agg.select(
        F.col("n_view").cast("long"),
        F.col("n_click_48h").cast("long"),
        F.col("n_purchase_48h").cast("long"),
        (
            F.floor(
                F.col("n_click_48h").cast("double")
                / F.expr("nullif(CAST(n_view AS DOUBLE), 0.0)")
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("conv_click"),
        (
            F.floor(
                F.when(F.col("n_click_48h") == 0, F.lit(0.0)).otherwise(
                    F.col("n_purchase_48h").cast("double")
                    / F.col("n_click_48h").cast("double")
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("conv_purchase"),
        (
            F.floor(
                F.when(F.col("n_purchase_48h") == 0, F.lit(0.0)).otherwise(
                    F.col("us_sum").cast("double")
                    / (
                        F.col("n_purchase_48h").cast("double")
                        * 3600000000.0
                    )
                )
                * 10000.0
                + 0.5
            )
            / 10000.0
        ).alias("avg_hours_to_convert"),
    )


# ---------------------------------------------------------------------------
# events_regularity_score — metronome detection via inter-event gap CV
# ---------------------------------------------------------------------------

REG_MIN_GAPS = 5    # users with fewer gaps aren't scored (cv is noise)
REG_CV_BOT = 0.1    # coefficient of variation below this = metronomic


@register(
    "events_regularity_score",
    oracle=f"""
    WITH g AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events),
    s AS (
        SELECT user_id,
               count(gap_us) AS n_gaps,
               sum(gap_us) AS s1,
               sum(CAST(gap_us AS HUGEINT) * gap_us) AS s2
        FROM g GROUP BY user_id
        HAVING count(gap_us) >= {REG_MIN_GAPS}),
    c AS (
        SELECT user_id, n_gaps,
               floor((CAST(s1 AS DOUBLE)
                      / (CAST(n_gaps AS DOUBLE) * 1000000.0))
                     * 10000.0 + 0.5) / 10000.0 AS mean_gap_s,
               floor((sqrt(CAST(CAST(n_gaps AS HUGEINT) * s2
                                - CAST(s1 AS HUGEINT) * s1 AS DOUBLE))
                      / CAST(s1 AS DOUBLE))
                     * 10000.0 + 0.5) / 10000.0 AS cv_gap
        FROM s)
    SELECT user_id, CAST(n_gaps AS BIGINT) AS n_gaps, mean_gap_s, cv_gap,
           CAST(CASE WHEN cv_gap < {REG_CV_BOT} THEN 1 ELSE 0 END
                AS INTEGER) AS is_metronomic
    FROM c
    ORDER BY user_id
    """,
)
def events_regularity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event-gap regularity per user — the classic bot/automation
    screen: organic users emit bursty, high-variance gaps, while scripted
    traffic fires on a timer and its coefficient of variation collapses
    toward 0 (a Poisson process has CV = 1). Flags users whose gap CV
    falls below {REG_CV_BOT} — the feature a traffic-quality gate feeds
    into curation of interaction logs.

    Exactness: gaps are whole microseconds (integer lag differences over
    a fully tie-broken per-user order); the moments n, Σg, Σg² are exact
    integer sums (Σg² in DECIMAL(38)/HUGEINT — a day-sized gap squared
    overflows int64). CV = sqrt(n·Σg² − (Σg)²)/Σg enters floating point
    only in the final sqrt/divide; both engines convert the SAME exact
    integers, and IEEE-754 sqrt is correctly rounded, so the doubles
    agree bit-for-bit before stable_round4. The metronome flag compares
    the ROUNDED cv, so the threshold can't straddle an ulp.

    Scale shape: one user-keyed shuffle for the lag window, then a hash
    aggregate on the same key (no second shuffle — partial aggregation
    collapses per partition). Scan prunes to (user_id, ts, event_id).
    """
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    g = e.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap_us").alias("n_gaps"),
            F.sum("gap_us").alias("s1"),
            F.sum(
                F.col("gap_us").cast("decimal(38,0)") * F.col("gap_us")
            ).alias("s2"),
        )
        .filter(F.col("n_gaps") >= REG_MIN_GAPS)
    )
    from ..operators.dedup import stable_round4

    cv = stable_round4(
        F.sqrt(
            (
                F.col("n_gaps").cast("decimal(38,0)") * F.col("s2")
                - F.col("s1").cast("decimal(38,0)")
                * F.col("s1").cast("decimal(38,0)")
            ).cast("double")
        )
        / F.col("s1").cast("double")
    )
    c = s.select(
        "user_id",
        F.col("n_gaps").cast("long").alias("n_gaps"),
        stable_round4(
            F.col("s1").cast("double") / (F.col("n_gaps") * F.lit(1000000.0))
        ).alias("mean_gap_s"),
        cv.alias("cv_gap"),
    )
    return c.select(
        "user_id",
        "n_gaps",
        "mean_gap_s",
        "cv_gap",
        F.when(F.col("cv_gap") < REG_CV_BOT, 1)
        .otherwise(0)
        .cast("int")
        .alias("is_metronomic"),
    ).orderBy("user_id")


# ---------------------------------------------------------------------------
# win_hampel_filter — rolling median/MAD outlier filter (exact integers)
# ---------------------------------------------------------------------------

HAMPEL_HALF = 2   # centered window of 2*HALF + 1 = 5 observations
HAMPEL_K = 3      # flag when |x - med| > K * MAD


@register(
    "win_hampel_filter",
    oracle=f"""
    WITH w AS (
        SELECT event_id, user_id,
               CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents,
               list(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN {HAMPEL_HALF} PRECEDING
                            AND {HAMPEL_HALF} FOLLOWING) AS l
        FROM events),
    f AS (
        SELECT event_id, user_id, cents,
               list_sort(l)[{HAMPEL_HALF + 1}] AS med
        FROM w WHERE len(l) = {2 * HAMPEL_HALF + 1}),
    m AS (
        SELECT f.event_id, f.user_id, f.cents, f.med,
               list_sort(list_transform(w.l, x -> abs(x - f.med)))
                   [{HAMPEL_HALF + 1}] AS mad
        FROM f JOIN w ON w.event_id = f.event_id)
    SELECT event_id, user_id, cents, med, mad,
           CAST(CASE WHEN abs(cents - med) > {HAMPEL_K} * mad
                     THEN 1 ELSE 0 END AS INTEGER) AS is_outlier
    FROM m
    ORDER BY event_id
    """,
)
def win_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel outlier filter (Hampel 1974; the rolling-median despiking
    standard for sensor/telemetry streams): for each event, the median
    and the median-absolute-deviation of the {2 * HAMPEL_HALF + 1}-point
    centered window of the user's value series; flag points more than
    {HAMPEL_K}·MAD from the rolling median. The per-point counterpart of
    dq_outliers_mad (global MAD) — a level shift in a series poisons the
    global screen, while the rolling window tracks it.

    Exactness: values are integer cents; the window has an ODD length
    and edge rows without a full window are excluded, so every median is
    a sorted-array middle ELEMENT (no interpolation, no float) and the
    MAD is the middle of the 5 integer absolute deviations. The flag is
    a pure integer compare — no rationals anywhere in this op.

    Scale shape: one user-keyed shuffle for the window; the rolling
    5-element array is built by the window frame itself (collect_list
    over ROWS BETWEEN), and both medians are O(w log w) array sorts on
    w = 5 elements inside whole-stage codegen — no self-join, no explode.
    Scan prunes to (event_id, user_id, ts, value).
    """
    e = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("long")
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-HAMPEL_HALF, HAMPEL_HALF)
    )
    w = e.select(
        "event_id",
        "user_id",
        cents.alias("cents"),
        F.collect_list(cents).over(win).alias("l"),
    )
    f = w.filter(F.size("l") == 2 * HAMPEL_HALF + 1).select(
        "event_id",
        "user_id",
        "cents",
        "l",
        F.element_at(F.array_sort("l"), HAMPEL_HALF + 1).alias("med"),
    )
    m = f.select(
        "event_id",
        "user_id",
        "cents",
        "med",
        F.element_at(
            F.array_sort(
                F.transform("l", lambda x: F.abs(x - F.col("med")))
            ),
            HAMPEL_HALF + 1,
        ).alias("mad"),
    )
    return m.select(
        "event_id",
        "user_id",
        "cents",
        "med",
        "mad",
        (F.abs(F.col("cents") - F.col("med")) > HAMPEL_K * F.col("mad"))
        .cast("int")
        .alias("is_outlier"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# events_late_data_audit — watermark lateness profile via distributed scan
# ---------------------------------------------------------------------------

LATE_DELAY_US = 300 * 1_000_000   # allowed lateness: 5 minutes
LATE_BUCKET = 4096                # arrival-order scan bucket width


@register(
    "events_late_data_audit",
    oracle=f"""
    WITH arr AS (
        SELECT event_id, epoch_us(ts) AS ts_us,
               CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS hour_id,
               max(epoch_us(ts)) OVER (
                   ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS wm_us
        FROM events),
    l AS (
        SELECT hour_id, ts_us, wm_us,
               CASE WHEN wm_us IS NOT NULL
                     AND ts_us < wm_us - {LATE_DELAY_US}
                    THEN 1 ELSE 0 END AS late
        FROM arr)
    SELECT hour_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(late) AS BIGINT) AS n_late,
           CAST(max(CASE WHEN late = 1
                         THEN wm_us - {LATE_DELAY_US} - ts_us END)
                AS BIGINT) AS max_lateness_us
    FROM l GROUP BY hour_id
    ORDER BY hour_id
    """,
)
def events_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness profile — the operational audit behind every
    Structured Streaming watermark choice: replay the stream in arrival
    order (event_id is the ingest sequence), maintain the running
    max-event-time watermark, and count per event-hour how many rows
    would have arrived more than the allowed 5 minutes behind it (i.e.
    rows a `withWatermark("ts", "5 minutes")` pipeline would DROP). The
    number this emits is exactly what you tune the delay against; the
    streaming ops (stream_tumbling_window etc.) consume the chosen value.

    The running max over the whole arrival order is the textbook
    NON-distributable window (one global partition — the WindowExec
    collapse the plan tests ban elsewhere). It is computed here as the
    classic two-level parallel prefix scan instead: bucket the arrival
    axis (event_id div {LATE_BUCKET}), take per-bucket maxima (a hash
    aggregate), prefix-max THOSE on the |buckets|-sized table (the only
    single-partition window, bounded by buckets not rows), broadcast the
    bucket prefixes back, and combine with a within-bucket running max
    (windows partitioned BY BUCKET — bounded {LATE_BUCKET}-row
    partitions). greatest(bucket-prefix, within-bucket) == the global
    prefix max, exactly.

    Determinism: everything is integer microseconds and integer compares;
    the arrival order is the unique event_id; no rationals at all.

    Scale shape: one shuffle on the bucket key for the within-bucket
    window, one tiny aggregate + broadcast join for the bucket prefixes,
    one hash aggregate to hours. Scan prunes to (event_id, ts).
    """
    e = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    arr = e.select(
        "event_id",
        us.alias("ts_us"),
        (F.floor(us / 1_000_000 / 3600) * 3600).cast("long").alias("hour_id"),
        F.expr(f"event_id div {LATE_BUCKET}").alias("b"),
    )
    bmax = arr.groupBy("b").agg(F.max("ts_us").alias("bmax"))
    # |buckets|-sized prefix table: the single-partition window is bounded
    # by bucket count, not event count
    bpre = bmax.select(
        "b",
        F.max("bmax")
        .over(
            W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
        )
        .alias("prefix_us"),
    )
    within = F.max("ts_us").over(
        W.partitionBy("b")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    l = (
        arr.join(F.broadcast(bpre), "b")
        .select(
            "hour_id",
            "ts_us",
            F.greatest(within, F.col("prefix_us")).alias("wm_us"),
        )
        .select(
            "hour_id",
            "ts_us",
            "wm_us",
            F.when(
                F.col("wm_us").isNotNull()
                & (F.col("ts_us") < F.col("wm_us") - LATE_DELAY_US),
                1,
            )
            .otherwise(0)
            .alias("late"),
        )
    )
    return (
        l.groupBy("hour_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum("late").cast("long").alias("n_late"),
            F.max(
                F.when(
                    F.col("late") == 1,
                    F.col("wm_us") - LATE_DELAY_US - F.col("ts_us"),
                )
            )
            .cast("long")
            .alias("max_lateness_us"),
        )
        .orderBy("hour_id")
    )


@register(
    "events_growth_accounting",
    oracle="""
    WITH ud AS (
        SELECT DISTINCT user_id,
               CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_id
        FROM events),
    w AS (
        SELECT user_id, day_id,
               lag(day_id)  OVER (PARTITION BY user_id ORDER BY day_id)
                   AS prev_day,
               lead(day_id) OVER (PARTITION BY user_id ORDER BY day_id)
                   AS next_day
        FROM ud)
    SELECT day_id,
           CAST(count(*) AS BIGINT) AS active,
           CAST(sum(CASE WHEN prev_day IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS new_users,
           CAST(sum(CASE WHEN prev_day = day_id - 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS retained,
           CAST(sum(CASE WHEN prev_day IS NOT NULL
                          AND prev_day < day_id - 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS resurrected,
           CAST(sum(CASE WHEN next_day IS NULL OR next_day > day_id + 1
                         THEN 1 ELSE 0 END)
               AS BIGINT) AS churned_after
    FROM w GROUP BY day_id
    """,
)
def events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting decomposition of daily actives — the
    new / retained / resurrected / churned identity of product analytics
    (active(d) = new + retained + resurrected; churned_after(d) counts the
    actives with no activity on d+1, so retained(d+1) = active(d) -
    churned_after(d)). Complements events_dau_wau_stickiness (volume) and
    events_cohort_retention (cohort-relative) with the day-over-day state
    machine of each user.

    Scale: raw events collapse to distinct (user, day) first, one window
    per user (high-cardinality key, bounded rows per user = active days),
    then a day-keyed partial-agg rollup. No self-joins, no re-scan per
    day; identical shape to the sessionization ops.
    """
    e = load(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_id"),
    ).distinct()
    wu = W.partitionBy("user_id").orderBy("day_id")
    w = ud.select(
        "user_id",
        "day_id",
        F.lag("day_id").over(wu).alias("prev_day"),
        F.lead("day_id").over(wu).alias("next_day"),
    )
    one = F.lit(1)
    zero = F.lit(0)
    return (
        w.groupBy("day_id")
        .agg(
            F.count(one).cast("long").alias("active"),
            F.sum(F.when(F.col("prev_day").isNull(), one).otherwise(zero))
            .cast("long")
            .alias("new_users"),
            F.sum(
                F.when(F.col("prev_day") == F.col("day_id") - 1, one)
                .otherwise(zero)
            )
            .cast("long")
            .alias("retained"),
            F.sum(
                F.when(
                    F.col("prev_day").isNotNull()
                    & (F.col("prev_day") < F.col("day_id") - 1),
                    one,
                ).otherwise(zero)
            )
            .cast("long")
            .alias("resurrected"),
            F.sum(
                F.when(
                    F.col("next_day").isNull()
                    | (F.col("next_day") > F.col("day_id") + 1),
                    one,
                ).otherwise(zero)
            )
            .cast("long")
            .alias("churned_after"),
        )
        .orderBy("day_id")
    )


def _dedup_cluster_stats_oracle() -> str:
    # same recursive closure as _stream_dedup_minhash_oracle, rolled up to
    # the cluster-size histogram
    base = _stream_dedup_minhash_oracle().rstrip()
    return f"""
    WITH canon AS ({base}),
    comp AS (
        SELECT canonical_id, CAST(count(*) AS BIGINT) AS cluster_size
        FROM canon GROUP BY 1)
    SELECT cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM comp GROUP BY 1 ORDER BY 1
    """


@register("dedup_cluster_stats", oracle=_dedup_cluster_stats_oracle())
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER-SIZE HISTOGRAM — the dedup audit a curation run
    publishes (how much of the corpus is singleton vs boilerplate
    mega-cluster, and the implied dedup ratio = 1 - n_clusters/n_docs):
    one row per observed cluster size with the cluster and doc counts at
    that size. Built on the same minhash components the streaming dedup
    maintains (stream_ops.minhash_components_batch), so the histogram is
    hash-verified cross-engine through the recursive reachability CTE —
    including the iterative component step.

    Scale shape: components are iterative min-label propagation over the
    banded candidate edges (localCheckpointed per round, shuffle ∝
    colliding pairs); the histogram adds two map-side-combined
    aggregates keyed on canonical_id then cluster_size."""
    from ..operators.ckpt import shared_stream_components

    comp = (
        shared_stream_components(spark, sf_dir)
        .groupBy("canonical_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cluster_size"))
    )
    return (
        comp.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("cluster_size").cast("long").alias("n_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "events_sequence_patterns",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq,
               CAST(count(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id),
    pat AS (
        SELECT user_id, n_events,
               CAST(len(regexp_extract_all(seq, 'v+c+p')) AS BIGINT)
                   AS n_funnels,
               CAST(len(regexp_extract_all(seq, 'e[^p]*p')) AS BIGINT)
                   AS n_error_recoveries,
               CAST(coalesce(list_max(list_transform(
                        regexp_extract_all(seq, 'v+'),
                        x -> len(x))), 0) AS BIGINT) AS longest_view_run
        FROM seqs)
    SELECT user_id, n_events, n_funnels, n_error_recoveries,
           longest_view_run
    FROM pat ORDER BY user_id
    """,
)
def events_sequence_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence-pattern mining over per-user event
    streams, expressed as REGEX over the compressed per-user type string
    (each event type maps to its first letter — v/c/p/s/e are distinct):
    view->click->purchase funnels (with repeats, 'v+c+p'),
    error-then-eventual-purchase recoveries ('e[^p]*p'), and the longest
    uninterrupted view run. Both engines scan non-overlapping matches
    left-to-right with greedy quantifiers (java.util.regex and RE2 agree
    on these patterns), and the sequence itself is deterministic via the
    full (ts, event_id) order, so the counts hash-match.

    Scale shape: ONE shuffle keyed on user_id builds each user's ordered
    type string (collect_list of (ts, event_id, char) structs,
    array_sort, concat — per-user sequences are session-sized); the
    regexes then run map-side on the compact string, which is the whole
    point: pattern work costs |seq| per user, never a self-join of the
    event stream."""
    e = load(spark, sf_dir, "events")
    seqs = (
        e.select(
            "user_id",
            F.struct(
                F.col("ts"), F.col("event_id"),
                F.substring("event_type", 1, 1).alias("c"),
            ).alias("s"),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("s")), lambda s: s["c"]
                ),
            ).alias("seq"),
        )
    )
    runs = F.expr(
        "transform(regexp_extract_all(seq, 'v+', 0), x -> length(x))"
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.size(F.expr("regexp_extract_all(seq, 'v+c+p', 0)"))
        .cast("long")
        .alias("n_funnels"),
        F.size(F.expr("regexp_extract_all(seq, 'e[^p]*p', 0)"))
        .cast("long")
        .alias("n_error_recoveries"),
        F.coalesce(F.array_max(runs), F.lit(0))
        .cast("long")
        .alias("longest_view_run"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# events_entropy_rate — Markov conditional entropy of the event stream
# --------------------------------------------------------------------------

ER_SCALE = 1_000_000


@register(
    "events_entropy_rate",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events),
    tr AS (SELECT prev_type, event_type AS next_type FROM seq
           WHERE prev_type IS NOT NULL),
    pc AS (SELECT prev_type, next_type, count(*) AS n
           FROM tr GROUP BY 1, 2),
    sc AS (SELECT prev_type, sum(n) AS ns,
                  CAST(floor(sum(n) * ln(sum(n)) * {ER_SCALE}) AS BIGINT)
                      AS q1,
                  sum(CAST(floor(n * ln(n) * {ER_SCALE}) AS BIGINT)) AS q2,
                  count(*) AS n_pairs
           FROM pc GROUP BY prev_type),
    t AS (SELECT sum(ns) AS big_n, count(*) AS n_states,
                 sum(n_pairs) AS n_pairs,
                 sum(q1) AS q1, sum(q2) AS q2
          FROM sc)
    SELECT CAST(big_n AS BIGINT) AS n_transitions,
           CAST(n_states AS BIGINT) AS n_states,
           CAST(n_pairs AS BIGINT) AS n_pairs,
           floor(((q1 - q2) * 1.0 / {ER_SCALE} / big_n / ln(2))
                 * 10000.0 + 0.5) / 10000.0 AS entropy_rate_bits,
           floor((ln(n_states) / ln(2)) * 10000.0 + 0.5) / 10000.0
               AS max_bits,
           floor((1.0 - ((q1 - q2) * 1.0 / {ER_SCALE} / big_n)
                        / nullif(ln(n_states), 0.0))
                 * 10000.0 + 0.5) / 10000.0
               AS predictability
    FROM t
    """,
)
def events_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical entropy rate of the event stream as a first-order Markov
    chain: H(next | prev) = (Σ_s n_s·ln n_s − Σ_st n_st·ln n_st) / N in
    nats, reported in bits with the predictability index 1 − H/ln|S| —
    the single-number summary of events_markov_transitions (how
    predictable is user behavior overall?), used to decide whether a
    sequence model is worth training on the stream at all (Song et al.,
    Science 2010 popularized the same limit for mobility traces).

    Determinism: the events_type_entropy discipline on the transition
    alphabet — every float term is floor(c·ln c·1e6) quantized to an
    integer per (prev,next) or per prev BEFORE summation, so shuffles
    cannot reorder float adds; ln of identical integers is bit-identical
    across engines; three final IEEE divisions through stable_round4
    form.

    Scale shape: one user-keyed shuffle for the lag, one hash aggregate
    to the |S|² alphabet, then |S|-row and 1-row rollups — output is a
    single row regardless of input size.
    """
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("next_type"),
        )
        .withColumn("prev_type", F.lag("next_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    pc = tr.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    qint = lambda c: F.floor(  # noqa: E731
        c * F.log(c) * F.lit(ER_SCALE)
    ).cast("long")
    sc = pc.groupBy("prev_type").agg(
        F.sum("n").alias("ns"),
        F.sum(qint(F.col("n"))).alias("q2"),
        F.count(F.lit(1)).alias("n_pairs"),
    ).select(
        "prev_type", "ns", qint(F.col("ns")).alias("q1"), "q2", "n_pairs"
    )
    t = sc.agg(
        F.sum("ns").alias("big_n"),
        F.count(F.lit(1)).alias("n_states"),
        F.sum("n_pairs").alias("n_pairs"),
        F.sum("q1").alias("q1"),
        F.sum("q2").alias("q2"),
    )
    h_nats = (
        (F.col("q1") - F.col("q2"))
        * 1.0
        / F.lit(ER_SCALE)
        / F.col("big_n")
    )
    r4 = lambda c: F.floor(c * 10000.0 + 0.5) / 10000.0  # noqa: E731
    return t.select(
        F.col("big_n").cast("long").alias("n_transitions"),
        F.col("n_states").cast("long").alias("n_states"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        r4(h_nats / F.log(F.lit(2.0))).alias("entropy_rate_bits"),
        r4(F.log(F.col("n_states").cast("double")) / F.log(F.lit(2.0))).alias(
            "max_bits"
        ),
        r4(
            F.lit(1.0)
            - h_nats
            / F.expr("nullif(ln(CAST(n_states AS DOUBLE)), 0.0)")
        ).alias("predictability"),
    )


# --------------------------------------------------------------------------
# events_markov_stationary — fixed-point power iteration to pi
# --------------------------------------------------------------------------

MS_SCALE = 1_000_000


@register(
    "events_markov_stationary",
    oracle=f"""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events),
    tr AS (SELECT prev_type, event_type AS next_type FROM seq
           WHERE prev_type IS NOT NULL),
    pc AS (SELECT prev_type, next_type, count(*) AS n
           FROM tr GROUP BY 1, 2),
    rs AS (SELECT prev_type, sum(n) AS ns FROM pc GROUP BY prev_type),
    states AS (SELECT prev_type AS s FROM rs),
    ns AS (SELECT count(*) AS k FROM states),
    p0 AS (SELECT s AS node, CAST({MS_SCALE} AS BIGINT) // k AS r
           FROM states CROSS JOIN ns),
    p1 AS (
        SELECT pc.next_type AS node,
               sum((p0.r * pc.n) // rs.ns) AS r
        FROM pc JOIN rs ON rs.prev_type = pc.prev_type
                JOIN p0 ON p0.node = pc.prev_type
        GROUP BY 1),
    p2 AS (
        SELECT pc.next_type AS node,
               sum((p1.r * pc.n) // rs.ns) AS r
        FROM pc JOIN rs ON rs.prev_type = pc.prev_type
                JOIN p1 ON p1.node = pc.prev_type
        GROUP BY 1),
    emp AS (
        SELECT next_type AS node, sum(n) AS cnt FROM pc GROUP BY 1),
    tot AS (SELECT sum(cnt) AS t FROM emp)
    SELECT p2.node AS state,
           CAST(p2.r AS BIGINT) AS stationary_q,
           CAST((emp.cnt * {MS_SCALE}) // tot.t AS BIGINT)
               AS empirical_q
    FROM p2 JOIN emp ON emp.node = p2.node CROSS JOIN tot
    ORDER BY state
    """,
)
def events_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the event-type Markov chain: two exact
    fixed-point power iterations π' = πP from the uniform start over the
    transition matrix of events_markov_transitions, next to each state's
    EMPIRICAL share — how far the chain's long-run behavior sits from
    today's observed mix (the load-forecasting question: if users keep
    behaving like this, what does steady-state traffic look like?).
    Completes the Markov family: transitions (the matrix), entropy rate
    (its information content), stationary (its fixed point).

    Determinism: the graph_pagerank/graph_hits integer discipline —
    probabilities in millionths, every update term the floor-divided
    integer (π(s)·n_st) div n_s·, summed exactly; the oracle unrolls the
    same two iterations as CTEs.

    Scale shape: one user-keyed lag shuffle collapses the stream to the
    |S|² alphabet; both iterations are joins over that tiny matrix —
    cost is alphabet-, not event-, sized after the first aggregate.
    """
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        e.select(
            "user_id", "ts", "event_id",
            F.col("event_type").alias("next_type"),
        )
        .withColumn("prev_type", F.lag("next_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    pc = tr.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("n")
    ).persist()  # both iterations + the row sums + empirical read it
    rs = pc.groupBy("prev_type").agg(F.sum("n").alias("ns"))
    k = rs.count()  # |S| — singleton driver scalar (house-allowed)
    ranks = rs.select(
        F.col("prev_type").alias("node"),
        F.lit(MS_SCALE // k).cast("long").alias("r"),
    )
    for _ in range(2):
        ranks = (
            pc.join(rs, "prev_type")
            .join(
                F.broadcast(ranks.select(F.col("node").alias("prev_type"), "r")),
                "prev_type",
            )
            .groupBy(F.col("next_type").alias("node"))
            .agg(F.sum(F.expr("(r * n) div ns")).alias("r"))
            .transform(pin)
        )
    emp = pc.groupBy(F.col("next_type").alias("node")).agg(
        F.sum("n").alias("cnt")
    )
    tot = emp.agg(F.sum("cnt").alias("t"))
    return (
        ranks.join(emp, "node")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("node").alias("state"),
            F.col("r").cast("long").alias("stationary_q"),
            # DECIMAL before the multiply (round-10 overflow sweep):
            # cnt*1e6 wraps LONG at ~9.2e12 transitions of one type —
            # posture-adjacent for the events fact; the quotient is a
            # millionth-share <= 1e6 so the DIV result always fits.
            F.expr(f"(CAST(cnt AS DECIMAL(19,0)) * {MS_SCALE}) div t")
            .cast("long")
            .alias("empirical_q"),
        )
        .orderBy("state")
    )


# --------------------------------------------------------------------------
# events_gesd_outliers — generalized ESD outlier screen (3 rounds)
# --------------------------------------------------------------------------

GESD_ROUNDS = 3

# studentized deviation of the removed point, over the EXACT integer
# sufficient statistics of the round's remaining set: dev = |n*x - sx|,
# cxx = n*sxx - sx^2, R = dev/n / sqrt(cxx/(n(n-1))) = dev/sqrt(n*cxx/(n-1))
# cxx is EXACTLY zero when the remaining set is constant — R is
# undefined there; guard or ANSI mode throws on degenerate data:
_GESD_R = ("(CASE WHEN cxx > 0 THEN dev / sqrt(n * cxx / (n - 1.0)) ELSE NULL END)")

_GESD_SERIES_SQL = """
    daily AS (
        SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS d, count(*) AS c
        FROM events GROUP BY 1),
    bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM daily),
    grid AS (
        SELECT unnest(generate_series(
                   0, CAST(date_diff('day', d0, d1) AS INT))) AS idx
        FROM bounds),
    di AS (
        SELECT CAST(date_diff('day', b.d0, daily.d) AS INT) AS idx, daily.c
        FROM daily CROSS JOIN bounds b),
    series AS (
        SELECT g.idx, CAST(COALESCE(di.c, 0) AS HUGEINT) AS x
        FROM grid g LEFT JOIN di ON di.idx = g.idx)
"""


def _gesd_round_sql(k: int, src: str) -> str:
    """One unrolled ESD round: stats over ``src``, argmax |n*x - sx|
    (exact integer, idx tie-break), and the survivor set."""
    return f"""
    s{k} AS (SELECT CAST(count(*) AS HUGEINT) AS n,
                    CAST(sum(x) AS HUGEINT) AS sx,
                    CAST(sum(x * x) AS HUGEINT) AS sxx FROM {src}),
    m{k} AS (SELECT idx, x,
                    CAST(abs(n * x - sx) AS DOUBLE) AS dev,
                    CAST(n AS DOUBLE) AS n,
                    CAST(n * sxx - sx * sx AS DOUBLE) AS cxx
             FROM {src} CROSS JOIN s{k}
             ORDER BY abs(n * x - sx) DESC, idx LIMIT 1),
    ser{k + 1} AS (SELECT * FROM {src}
                   WHERE idx <> (SELECT idx FROM m{k}))"""


@register(
    "events_gesd_outliers",
    oracle=f"""
    WITH {_GESD_SERIES_SQL},
    ser1 AS (SELECT * FROM series),
    {",".join(_gesd_round_sql(k, f"ser{k}") for k in range(1, GESD_ROUNDS + 1))}
    SELECT * FROM (
        {" UNION ALL ".join(
            f'''SELECT {k} AS round, CAST(idx AS BIGINT) AS day_index,
                CAST(x AS BIGINT) AS day_count,
                {sql_stable_round4(_GESD_R)} AS r_stat FROM m{k}'''
            for k in range(1, GESD_ROUNDS + 1)
        )}
    ) ORDER BY round
    """,
)
def events_gesd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized extreme studentized deviate screen (Rosner 1983) on
    the daily event-count series, {GESD_ROUNDS} rounds unrolled: each
    round removes the most-deviant remaining day and reports its
    studentized R — the ITERATIVE outlier procedure that stays valid
    when outliers mask each other (a single z-score pass, dq_outliers
    style, underestimates sigma in the presence of a second outlier;
    ESD re-estimates after every removal). Critical-value lookup
    (t-quantiles) is deliberately out of the relational contract, as
    with agg_ab_ttest.

    Determinism: each round's argmax compares the EXACT integer
    |n*x - sx| with an idx tie-break (n is constant within the round,
    so this IS the |x - mean| argmax) — the selection can never flip on
    a float; R is one expression over exact-integer casts,
    stable_round4.

    Scale shape: the fact stream collapses once to |days| rows; each
    round is a scalar aggregate + a 1-row broadcast anti-join on the
    bounded series. Rounds are fixed (no data-dependent iteration
    count), so the plan is static.
    """
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(F.date_trunc("day", F.col("ts")).alias("d")).agg(
        F.count("*").alias("c")
    )
    bounds = daily.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    grid = bounds.select(
        F.explode(
            F.sequence(F.lit(0), F.datediff(F.col("d1"), F.col("d0")))
        ).alias("idx")
    )
    di = daily.crossJoin(F.broadcast(bounds)).select(
        F.datediff(F.col("d"), F.col("d0")).cast("int").alias("idx"), "c"
    )
    remaining = (
        grid.join(di, "idx", "left")
        .select("idx", F.coalesce("c", F.lit(0)).cast("decimal(38,0)").alias("x"))
        .persist()  # all three rounds walk this bounded frame
    )
    picked = []
    for k in range(1, GESD_ROUNDS + 1):
        st = remaining.agg(
            F.count("*").cast("decimal(38,0)").alias("n"),
            F.sum("x").alias("sx"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
        )
        m = (
            remaining.crossJoin(F.broadcast(st))
            .withColumn(
                "adev", F.abs(F.col("n") * F.col("x") - F.col("sx"))
            )
            .withColumn(
                "rn",
                F.row_number().over(
                    W.orderBy(F.col("adev").desc(), F.col("idx"))
                ),
            )
            .filter(F.col("rn") == 1)
            .select(
                F.lit(k).alias("round"),
                F.col("idx"),
                F.col("x"),
                F.col("adev").cast("double").alias("dev"),
                F.col("n").cast("double").alias("n"),
                (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                .cast("double")
                .alias("cxx"),
            )
        )
        picked.append(m)
        remaining = remaining.join(
            F.broadcast(m.select("idx")), "idx", "left_anti"
        )
    out = picked[0]
    for m in picked[1:]:
        out = out.unionByName(m)
    return out.selectExpr(
        "round",
        "CAST(idx AS BIGINT) AS day_index",
        "CAST(x AS BIGINT) AS day_count",
        f"CAST({sql_stable_round4(_GESD_R)} AS DOUBLE) AS r_stat",
    ).orderBy("round")


# --------------------------------------------------------------------------
# events_attribution_shapley — exact Shapley-value channel attribution
# --------------------------------------------------------------------------

# channels and their coalition bits (purchase is the CONVERSION, not a
# channel); n = 4, so Shapley runs EXACTLY over the 16 coalitions
SHAP_CHANNELS = [("click", 1), ("error", 2), ("signup", 4), ("view", 8)]
SHAP_N = 4
# |S|! * (n-1-|S|)! for every coalition mask S with channel i absent —
# precomputed per MASK as integer literals so neither engine needs a
# popcount/factorial at runtime; sum of weights over S = n!/n = 6
_SHAP_W = {0: 6, 1: 2, 2: 2, 3: 2, 4: 2, 5: 2, 6: 2, 7: 6,
           8: 2, 9: 2, 10: 2, 11: 6, 12: 2, 13: 6, 14: 6}
def _shap_w_case(col: str) -> str:
    return (
        f"CASE {col} "
        + " ".join(f"WHEN {m} THEN {w}" for m, w in sorted(_SHAP_W.items()))
        + " END"
    )
_SHAP_MASK = " + ".join(
    f"max(CASE WHEN event_type = '{c}' THEN {b} ELSE 0 END)"
    for c, b in SHAP_CHANNELS
)
_SHAP_CH_CASE = (
    "CASE bit "
    + " ".join(f"WHEN {b} THEN '{c}'" for c, b in SHAP_CHANNELS)
    + " END"
)


@register(
    "events_attribution_shapley",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               {_SHAP_MASK} AS t_mask,
               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events GROUP BY user_id),
    observed AS (
        SELECT t_mask, CAST(sum(conv) AS BIGINT) AS conv_cnt
        FROM per_user GROUP BY 1),
    smasks AS (SELECT unnest(generate_series(0, 15)) AS s_mask),
    v AS (
        SELECT s_mask,
               CAST(coalesce(sum(CASE WHEN (t_mask & s_mask) = t_mask
                                      THEN conv_cnt END), 0) AS BIGINT)
                   AS v_s
        FROM smasks LEFT JOIN observed ON true
        GROUP BY 1),
    chans AS (SELECT unnest([1, 2, 4, 8]) AS bit),
    terms AS (
        SELECT c.bit,
               ({_shap_w_case("vo.s_mask")})
                   * (vw.v_s - vo.v_s) AS term
        FROM chans c
        JOIN v vo ON (vo.s_mask & c.bit) = 0
        JOIN v vw ON vw.s_mask = (vo.s_mask | c.bit)),
    phi AS (
        SELECT bit, CAST(sum(term) AS BIGINT) AS phi_x24
        FROM terms GROUP BY 1),
    tot AS (SELECT sum(phi_x24) AS t24 FROM phi)
    SELECT {_SHAP_CH_CASE} AS channel,
           phi_x24,
           floor(phi_x24 / 24.0 * 10000.0 + 0.5) / 10000.0 AS phi,
           floor(CAST(phi_x24 AS DOUBLE) / nullif(t24, 0) * 10000.0
                 + 0.5) / 10000.0 AS share
    FROM phi CROSS JOIN tot
    ORDER BY channel
    """,
)
def events_attribution_shapley(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """EXACT Shapley-value channel attribution (Shapley 1953; the
    data-driven attribution model behind ad platforms — completes the
    family next to events_attribution_last_touch / _linear): each user
    contributes their touched-channel set (a 4-bit mask over
    click/error/signup/view) and a conversion bit (purchased); the
    coalition value v(S) = conversions of users whose touch set is
    CONTAINED in S; channel i's credit is the Shapley average marginal
    phi_i = sum_S |S|!(n-1-|S|)!/n! * (v(S+i) - v(S)). With n=4 the sum
    runs exactly over all 16 coalitions — no sampling, no permutation
    Monte Carlo. Efficiency holds by construction: sum phi = v(all) -
    v(empty), certified by the share column.

    Determinism: masks and conversion counts are exact integers; the
    factorial weights are PRECOMPUTED integer literals per coalition
    mask (no runtime popcount/factorial); phi is kept x24 (= n!) as a
    BIGINT and descaled once through the stable-round4 form.

    Scale shape: one user-keyed conditional aggregate over events (the
    only pass over the fact table), collapsing to <= 16 observed-mask
    rows; everything after — the subset-sum closure, the 4 x 8 marginal
    grid, the rollup — is constant-size lattice algebra on broadcast
    frames, independent of input volume.
    """
    e = load(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.expr(_SHAP_MASK).alias("t_mask"),
        F.expr(
            "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)"
        ).alias("conv"),
    )
    observed = per_user.groupBy("t_mask").agg(
        F.sum("conv").alias("conv_cnt")
    )
    smasks = spark.range(16).select(F.col("id").cast("int").alias("s_mask"))
    v = (
        smasks.join(F.broadcast(observed), F.lit(True), "left")
        .groupBy("s_mask")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.expr("(t_mask & s_mask) = t_mask"),
                        F.col("conv_cnt"),
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("v_s")
        )
        # the 16-row lattice frame is reused by both marginal sides and
        # the rollup: localCheckpoint it so events is scanned ONCE (the
        # label-frame discipline from graph.py — without it every reuse
        # recomputes the full lineage). Eager pin, matching the pre-r9
        # bare .localCheckpoint() (ADVICE r9: the r9 reroute through
        # lazy_pin silently moved the events scan from build time into
        # the first action — a behavior change, not a pure refactor)
        .transform(pin)
    )
    chans = literal_frame(
        spark, [(b,) for _, b in SHAP_CHANNELS], "bit int"
    )
    vo = v.select(F.col("s_mask"), F.col("v_s").alias("v_without"))
    vw = v.select(
        F.col("s_mask").alias("w_mask"), F.col("v_s").alias("v_with")
    )
    terms = (
        chans.join(F.broadcast(vo), F.expr("(s_mask & bit) = 0"))
        .join(F.broadcast(vw), F.expr("w_mask = (s_mask | bit)"))
        .selectExpr(
            "bit",
            f"({_shap_w_case('s_mask')}) * (v_with - v_without)"
            " AS term",
        )
    )
    phi = terms.groupBy("bit").agg(
        F.sum("term").cast("long").alias("phi_x24")
    )
    return (
        phi.withColumn(
            "t24", F.sum("phi_x24").over(W.partitionBy())
        )
        .selectExpr(
            f"{_SHAP_CH_CASE} AS channel",
            "phi_x24",
            "CAST(floor(CAST(phi_x24 AS DOUBLE) / 24.0 * 10000.0 + 0.5)"
            " / 10000.0 AS DOUBLE) AS phi",
            "CAST(floor(CAST(phi_x24 AS DOUBLE) / nullif(t24, 0)"
            " * 10000.0 + 0.5) / 10000.0 AS DOUBLE) AS share",
        )
        .orderBy("channel")
    )
