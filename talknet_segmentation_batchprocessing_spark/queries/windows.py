"""W1-W9 window/sequence queries (SURVEY.md §2.5) over the `events`
stream table — (user_id, ts, value) stands in for (track_id,
frame_idx, score).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.segmentation import gaps_and_islands, speaking_flag
from ..operators.windows import (
    centered_mean,
    interpolate_gaps,
    pack_batches,
    top_per_group,
    tumbling_window_id,
    windowed_median,
)
from ..functions.rounding import stable_round
from ..plans.two_phase import parquet_rows
from ..registry import load, query

THRESHOLD = 50.0  # events.value mean ~49.6 → balanced runs
MIN_RUN = 3

_W1_ORACLE = f"""
WITH flagged AS (
  SELECT user_id, event_id, ts, value, (value > {THRESHOLD}) AS speaking
  FROM events
), marked AS (
  SELECT *, CASE WHEN (lag(speaking) OVER w) IS DISTINCT FROM speaking THEN 1 ELSE 0 END AS chg
  FROM flagged WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), runs AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS island
  FROM marked
), segs AS (
  SELECT user_id, island, min(ts) AS start_ts, max(ts) AS end_ts,
         count(*) AS n_events, floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value
  FROM runs WHERE speaking GROUP BY user_id, island
  HAVING count(*) >= {MIN_RUN}
)
SELECT user_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY start_ts) - 1 AS INTEGER) AS seg_id,
       start_ts, end_ts, n_events, sum_value
FROM segs
"""


@query(
    "w1_speaking_segments",
    oracle=_W1_ORACLE,
    doc="W1 gaps-and-islands run-length segmentation + F5 strict-> threshold "
    "+ F6 min-length (extractSpeakingSegments.py:44-61,98-99)",
    tags=("W1", "F5", "F6", "flagship"),
)
def w1_speaking_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    flagged = ev.withColumn("speaking", speaking_flag("value", THRESHOLD))
    runs = gaps_and_islands(flagged, ["user_id"], ["ts", "event_id"], "speaking", "island")
    segs = (
        runs.filter("speaking")
        .groupBy("user_id", "island")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.count("*").alias("n_events"),
            stable_round(F.sum("value"), 2).alias("sum_value"),
        )
        .filter(F.col("n_events") >= MIN_RUN)
    )
    w = Window.partitionBy("user_id").orderBy("start_ts")
    return segs.select(
        "user_id",
        (F.row_number().over(w) - 1).alias("seg_id"),
        "start_ts",
        "end_ts",
        "n_events",
        "sum_value",
    )


_W2_ORACLE = """
SELECT user_id, event_id,
       floor((avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) * 1e3 + 0.5) / 1e3 AS smoothed
FROM events
"""


@query(
    "w2_centered_smoothing",
    oracle=_W2_ORACLE,
    doc="W2 centered moving average, rows -2..+2 (demoTalkNet.py:349-351; "
    "clean variant — the reference tail quirk is unit-tested in parity mode)",
    tags=("W2", "A11"),
)
def w2_centered_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = centered_mean(ev, ["user_id"], ["ts", "event_id"], "value", 2, 2, "smoothed")
    return out.select("user_id", "event_id", stable_round("smoothed", 3).alias("smoothed"))


_W3_ORACLE = """
SELECT user_id, event_id,
       floor((median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)) * 1e3 + 0.5) / 1e3 AS med
FROM events
"""


@query(
    "w3_windowed_median",
    oracle=_W3_ORACLE,
    doc="W3 running median k=13, the relational core of medfilt on track "
    "center/size (demoTalkNet.py:185-192); zero-pad edge variant unit-tested",
    tags=("W3",),
)
def w3_windowed_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    out = windowed_median(ev, ["user_id"], ["ts", "event_id"], "value", k=13, out_col="med")
    return out.select("user_id", "event_id", stable_round("med", 3).alias("med"))


_W4_ORACLE = """
WITH seqd AS (
  SELECT user_id, event_id, ts, event_type, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
  FROM events
), obs AS (
  SELECT user_id, CAST(seq AS BIGINT) AS seq, value FROM seqd WHERE event_type <> 'error'
), extent AS (
  SELECT user_id, min(seq) AS f0, max(seq) AS f1 FROM obs GROUP BY user_id
), axis AS (
  SELECT user_id, unnest(generate_series(f0, f1)) AS seq FROM extent
), dense AS (
  SELECT a.user_id, a.seq, o.value FROM axis a LEFT JOIN obs o USING (user_id, seq)
), anch AS (
  SELECT user_id, seq, value,
    last_value(CASE WHEN value IS NOT NULL THEN seq END IGNORE NULLS) OVER wp AS pf,
    last_value(value IGNORE NULLS) OVER wp AS pv,
    first_value(CASE WHEN value IS NOT NULL THEN seq END IGNORE NULLS) OVER wn AS nf,
    first_value(value IGNORE NULLS) OVER wn AS nv
  FROM dense
  WINDOW wp AS (PARTITION BY user_id ORDER BY seq ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wn AS (PARTITION BY user_id ORDER BY seq ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, seq,
       floor((coalesce(value, pv + ((seq - pf) / (nf - pf)) * (nv - pv))) * 1e3 + 0.5) / 1e3 AS value_interp
FROM anch
"""


@query(
    "w4_linear_interpolation",
    oracle=_W4_ORACLE,
    doc="W4 dense-axis linear interpolation over gaps "
    "(demoTalkNet.py:168-175 interp1d over missing frames): drop 'error' "
    "rows from a per-user sequence, then sequence+explode + ignorenulls "
    "window anchors rebuild them",
    tags=("W4",),
)
def w4_linear_interpolation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seqd = ev.withColumn("seq", F.row_number().over(w).cast("bigint"))
    obs = seqd.filter(F.col("event_type") != "error").select("user_id", "seq", "value")
    dense = interpolate_gaps(obs, ["user_id"], "seq", ["value"])
    return dense.select("user_id", "seq", stable_round("value", 3).alias("value_interp"))


_W5_ORACLE = """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
"""


@query(
    "w5_top1_per_group",
    oracle=_W5_ORACLE,
    doc="W5 top-1 per group (best-IoU pick, demoTalkNet.py:415-417)",
    tags=("W5",),
)
def w5_top1_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return top_per_group(
        orders, ["o_custkey"], [F.desc("o_totalprice"), F.col("o_orderkey")], k=1
    ).select("o_custkey", "o_orderkey", "o_totalprice")


_W6_ORACLE = """
SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(rn AS INTEGER) AS rk FROM (
  SELECT l_orderkey, l_linenumber, l_extendedprice,
         row_number() OVER (PARTITION BY l_orderkey
                            ORDER BY l_extendedprice DESC, l_linenumber) AS rn
  FROM lineitem
) WHERE rn <= 3
"""


@query(
    "w6_topk_candidates",
    oracle=_W6_ORACLE,
    doc="W6 relational core: top-k candidate cap per frame before greedy NMS "
    "(model/faceDetector/s3fd/box_utils.py:129-140 top_k); the sequential "
    "suppression loop itself is the applyInPandas kernel (rows-only query)",
    tags=("W6",),
)
def w6_topk_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return top_per_group(
        li,
        ["l_orderkey"],
        [F.desc("l_extendedprice"), F.col("l_linenumber")],
        k=3,
        rank_col="rk",
        keep_rank=True,
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "rk")


_W7_ORACLE = """
SELECT o_orderkey, len,
       CAST(floor((cum - 1) / 500000.0) AS BIGINT) AS batch_id
FROM (
  SELECT o_orderkey, len,
         sum(len) OVER (ORDER BY len DESC, o_orderkey
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM (SELECT o_orderkey, CAST(floor(o_totalprice) AS BIGINT) AS len FROM orders)
)
"""


@query(
    "w7_batch_packing",
    oracle=_W7_ORACLE,
    doc="W7 length-sorted dynamic batch packing (dataLoader.py:89-108): "
    "sort desc + integer running-sum bucketing; the reference's exact "
    "greedy recurrence is unit-tested via pack_batches_exact",
    tags=("W7",),
)
def w7_batch_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    sized = orders.select(
        "o_orderkey", F.floor("o_totalprice").cast("bigint").alias("len")
    )
    return pack_batches(
        sized, "len", 500000, order_desc=True, tiebreak_cols=("o_orderkey",),
        n_upper=parquet_rows(sf_dir, "orders"),
    ).select("o_orderkey", "len", "batch_id")


_W8_ORACLE = """
SELECT event_id, value, CAST(rn AS INTEGER) AS pos FROM (
  SELECT event_id, value,
         row_number() OVER (ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 100
"""


@query(
    "w8_global_sort_limit",
    oracle=_W8_ORACLE,
    doc="W8 global sort by score desc (get_ava_active_speaker_performance."
    "py:119-124) with deterministic tiebreak + row limit (F9)",
    tags=("W8", "F9"),
)
def w8_global_sort_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    # orderBy().limit() compiles to TakeOrderedAndProject: per-partition
    # top-k + driver merge of k rows — no global sort, no full shuffle.
    # Numbering happens AFTER the limit, over exactly 100 rows (the
    # partitionBy(lit) keeps WindowExec off the unbounded-input path).
    ev = load(spark, sf_dir, "events")
    top = ev.orderBy(F.desc("value"), "event_id").limit(100)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("value"), "event_id")
    return top.withColumn("pos", F.row_number().over(w)).select(
        "event_id", "value", "pos"
    )


_W9_ORACLE = """
SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS clip_id, event_type,
       count(*) AS n, floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value
FROM events
GROUP BY 1, 2
"""


@query(
    "w9_tumbling_clips",
    oracle=_W9_ORACLE,
    doc="W9 tumbling clip windows: floor(t/width) clip ids "
    "(demoTalkNet.py:256-262 duration*25-frame scoring clips)",
    tags=("W9",),
)
def w9_tumbling_clips(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # events.ts arrives as TIMESTAMP_NTZ (plain timestamp[us] parquet);
    # NTZ has no direct double cast, so hop through TIMESTAMP first —
    # the session timezone is pinned to UTC (session.py), making the
    # hop value-preserving and equal to DuckDB's epoch(ts).
    clip = tumbling_window_id(
        F.col("ts").cast("timestamp").cast("double"), 3600.0
    )
    return (
        ev.withColumn("clip_id", clip)
        .groupBy("clip_id", "event_type")
        .agg(F.count("*").alias("n"), stable_round(F.sum("value"), 2).alias("sum_value"))
    )


_W10_ORACLE = """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR ts - lag(ts) OVER w > INTERVAL 1800 SECOND
              THEN 1 ELSE 0 END AS new_s
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id, CAST(sid - 1 AS INTEGER) AS session_id,
       min(ts) AS start_ts, max(ts) AS end_ts,
       count(*) AS n_events,
       floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value
FROM s GROUP BY user_id, sid
"""


@query(
    "w10_sessionize",
    oracle=_W10_ORACLE,
    doc="Batch sessionization: per-user sessions split on >30 min "
    "inactivity gaps — the time-based sibling of the W1 islands "
    "(extractSpeakingSegments.py:44-61 run-splitting, gap measured in "
    "event time instead of frame count). Same partitioned two-window "
    "shape",
    tags=("W10", "ext"),
)
def w10_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ts_d = F.col("ts").cast("timestamp").cast("double")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "_new_s",
        F.when(
            F.lag(ts_d).over(w).isNull() | ((ts_d - F.lag(ts_d).over(w)) > 1800.0),
            1,
        ).otherwise(0),
    ).withColumn("_sid", F.sum("_new_s").over(wcum))
    return flagged.groupBy("user_id", "_sid").agg(
        F.min("ts").alias("start_ts"),
        F.max("ts").alias("end_ts"),
        F.count("*").alias("n_events"),
        stable_round(F.sum("value"), 2).alias("sum_value"),
    ).select(
        "user_id",
        (F.col("_sid") - 1).cast("int").alias("session_id"),
        "start_ts",
        "end_ts",
        "n_events",
        "sum_value",
    )


_W11_ORACLE = """
WITH e AS (
  SELECT event_type, value, CAST(floor(epoch(ts) / 1800) AS BIGINT) AS half_slot
  FROM events
), windows AS (
  -- a 1h window sliding by 30min: each event belongs to 2 windows,
  -- whose starts are the two half-hour slots covering it
  SELECT event_type, value, (half_slot - k) * 1800 AS win_start
  FROM e CROSS JOIN (SELECT unnest(range(0, 2)) AS k)
)
SELECT win_start, event_type, count(*) AS n,
       floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value
FROM windows GROUP BY win_start, event_type
"""


@query(
    "w11_sliding_window",
    oracle=_W11_ORACLE,
    doc="Time-based sliding window (1h size, 30min slide) over events "
    "(SURVEY §7 free built-ins; completes tumbling w9 / session w10): "
    "each event replicates into size/slide windows via a 2-element "
    "explode, then one aggregation — the same expansion Spark's "
    "window(ts, '1 hour', '30 minutes') performs",
    tags=("W11", "ext"),
)
def w11_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    half_slot = F.floor(F.col("ts").cast("timestamp").cast("double") / 1800).cast(
        "bigint"
    )
    win = ev.withColumn("half_slot", half_slot).select(
        "event_type",
        "value",
        F.explode(
            F.array(
                (F.col("half_slot") - 0) * 1800, (F.col("half_slot") - 1) * 1800
            )
        ).alias("win_start"),
    )
    return win.groupBy("win_start", "event_type").agg(
        F.count("*").alias("n"), stable_round(F.sum("value"), 2).alias("sum_value")
    )


_FUNNEL_ORACLE = """
WITH e AS (
  SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
v AS (SELECT user_id, min(us) AS t1_us FROM e WHERE event_type = 'view' GROUP BY user_id),
c AS (
  SELECT e.user_id, min(e.us) AS t2_us
  FROM e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.us > v.t1_us
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.us) AS t3_us
  FROM e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.us > c.t2_us
  GROUP BY e.user_id
)
SELECT v.user_id, v.t1_us, c.t2_us, p.t3_us,
       CAST(1 + CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END
              + CASE WHEN p.user_id IS NULL THEN 0 ELSE 1 END AS INTEGER) AS stage
FROM v LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
"""


@query(
    "w12_funnel_steps",
    oracle=_FUNNEL_ORACLE,
    doc="Behavioral funnel (view -> click -> purchase): per user, the "
    "first view, the first click STRICTLY after it, the first "
    "purchase strictly after that, and the stage reached. The Spark "
    "side is a SINGLE-SHUFFLE sorted-array fold per user (collect the "
    "(us, type) events, one aggregate() pass carries the three "
    "timestamps as the accumulator — sequence pattern matching as a "
    "higher-order function, JVM-side); the ORACLE is an independent "
    "3-pass min-after-join formulation, so agreement checks the "
    "algorithm, not a transcription. Strict '>' on exact integer "
    "microseconds pins tie semantics on both engines. Per-user state "
    "is 3 longs; the fold never materializes more than one user's "
    "events in an executor row",
    tags=("W12", "ext"),
)
def w12_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    steps = ["view", "click", "purchase"]
    e = ev.filter(F.col("event_type").isin(steps)).select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    seq = e.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("us", "event_type"))).alias("seq")
    )

    def step(acc, x):
        t1 = F.when(
            acc["t1"].isNull() & (x["event_type"] == "view"), x["us"]
        ).otherwise(acc["t1"])
        t2 = F.when(
            acc["t2"].isNull()
            & acc["t1"].isNotNull()
            & (x["event_type"] == "click")
            & (x["us"] > acc["t1"]),
            x["us"],
        ).otherwise(acc["t2"])
        t3 = F.when(
            acc["t3"].isNull()
            & acc["t2"].isNotNull()
            & (x["event_type"] == "purchase")
            & (x["us"] > acc["t2"]),
            x["us"],
        ).otherwise(acc["t3"])
        return F.struct(t1.alias("t1"), t2.alias("t2"), t3.alias("t3"))

    init = F.struct(
        F.lit(None).cast("bigint").alias("t1"),
        F.lit(None).cast("bigint").alias("t2"),
        F.lit(None).cast("bigint").alias("t3"),
    )
    folded = seq.select(
        "user_id", F.aggregate("seq", init, step).alias("f")
    ).select(
        "user_id",
        F.col("f.t1").alias("t1_us"),
        F.col("f.t2").alias("t2_us"),
        F.col("f.t3").alias("t3_us"),
    )
    stage = (
        F.lit(1)
        + F.col("t2_us").isNotNull().cast("int")
        + F.col("t3_us").isNotNull().cast("int")
    )
    return folded.filter(F.col("t1_us").isNotNull()).select(
        "user_id", "t1_us", "t2_us", "t3_us", stage.cast("int").alias("stage")
    )


_COHORT_ORACLE = """
WITH a AS (
  SELECT DISTINCT user_id, epoch_us(date_trunc('day', ts)) AS day_us FROM events
),
c AS (SELECT user_id, min(day_us) AS cohort_us FROM a GROUP BY user_id)
SELECT c.cohort_us,
       CAST((a.day_us - c.cohort_us) // 86400000000 AS BIGINT) AS day_offset,
       count(*) AS n_users
FROM a JOIN c ON c.user_id = a.user_id
GROUP BY 1, 2
"""


@query(
    "w14_cohort_retention",
    oracle=_COHORT_ORACLE,
    doc="Cohort retention matrix: users grouped by first-active day, "
    "counted on each later active day-offset — the standard retention "
    "triangle. Two aggregations + one equi-join on user_id, every "
    "stage key-partitioned; the cohort frame is one row per user, so "
    "at scale it broadcasts or co-partitions with the activity scan. "
    "Day keys are exact truncated integer microseconds on both "
    "engines; offsets are exact integer day divisions",
    tags=("W14", "ext"),
)
def w14_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    a = ev.select(
        "user_id",
        F.unix_micros(F.date_trunc("day", F.col("ts").cast("timestamp"))).alias(
            "day_us"
        ),
    ).distinct()
    c = a.groupBy("user_id").agg(F.min("day_us").alias("cohort_us"))
    return (
        a.join(c, "user_id")
        .groupBy(
            "cohort_us",
            F.expr("(day_us - cohort_us) div 86400000000").alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


_W15_ORACLE = """
WITH seq AS (
  SELECT user_id, event_id, event_type,
         epoch_us(ts) AS us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
),
clicks AS (
  SELECT user_id, rn, us,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
  FROM seq WHERE event_type = 'click'
),
runs AS (
  SELECT user_id, grp, min(rn) AS s, max(rn) AS e,
         CAST(count(*) AS BIGINT) AS n_clicks
  FROM clicks GROUP BY user_id, grp
)
SELECT r.user_id, a.us AS start_us, c.us AS end_us, r.n_clicks,
       c.us - a.us AS span_us
FROM runs r
JOIN seq a ON a.user_id = r.user_id AND a.rn = r.s - 1
          AND a.event_type = 'error'
JOIN seq c ON c.user_id = r.user_id AND c.rn = r.e + 1
          AND c.event_type = 'purchase'
"""


@query(
    "w15_event_pattern",
    oracle=_W15_ORACLE,
    doc="MATCH_RECOGNIZE-style event-pattern detection (the CEP "
    "operator family): pattern ERROR CLICK+ PURCHASE, contiguous in "
    "each user's event sequence, greedy on the CLICK run — exactly "
    "AFTER MATCH SKIP PAST LAST ROW semantics, since maximal click "
    "runs cannot overlap. Relational rewrite: one sequence-number "
    "window, gaps-and-islands on the click rows (the flagship "
    "pattern, reused on ordinal positions), then two equi-joins "
    "checking the run's immediate predecessor/successor symbols. "
    "Every stage partitions on user_id — no per-row state machine, "
    "no UDF; emitted timestamps are exact integer microseconds. At "
    "100 TB this is the plan a streaming CEP engine materializes per "
    "key, here as one batch pass",
    tags=("W15", "ext"),
)
def w15_event_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        F.row_number().over(wseq).alias("rn"),
    )
    wrun = Window.partitionBy("user_id").orderBy("rn")
    clicks = seq.filter(F.col("event_type") == "click").withColumn(
        "grp", F.col("rn") - F.row_number().over(wrun)
    )
    runs = clicks.groupBy("user_id", "grp").agg(
        F.min("rn").alias("s"),
        F.max("rn").alias("e"),
        F.count("*").alias("n_clicks"),
    )
    a = seq.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("a_uid"),
        F.col("rn").alias("a_rn"),
        F.col("us").alias("start_us"),
    )
    c = seq.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("c_uid"),
        F.col("rn").alias("c_rn"),
        F.col("us").alias("end_us"),
    )
    return (
        runs.join(a, (F.col("a_uid") == F.col("user_id")) & (F.col("a_rn") == F.col("s") - 1))
        .join(c, (F.col("c_uid") == F.col("user_id")) & (F.col("c_rn") == F.col("e") + 1))
        .select(
            "user_id",
            "start_us",
            "end_us",
            "n_clicks",
            (F.col("end_us") - F.col("start_us")).alias("span_us"),
        )
    )


_OHLC_ORACLE = """
WITH e AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS bucket,
         CAST(epoch_us(ts) AS BIGINT) AS us,
         event_id, value,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS qv
  FROM events WHERE value IS NOT NULL
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY us, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY us DESC, event_id DESC) AS rn_z
  FROM e
)
SELECT user_id, bucket,
       CAST(count(*) AS BIGINT) AS n_events,
       floor(max(CASE WHEN rn_a = 1 THEN value END) * 1e6 + 0.5) / 1e6
         AS open,
       floor(max(value) * 1e6 + 0.5) / 1e6 AS high,
       floor(min(value) * 1e6 + 0.5) / 1e6 AS low,
       floor(max(CASE WHEN rn_z = 1 THEN value END) * 1e6 + 0.5) / 1e6
         AS close,
       CAST(sum(qv) AS BIGINT) AS sum_value_ppm
FROM r GROUP BY user_id, bucket
"""


@query(
    "w16_ohlc_candles",
    oracle=_OHLC_ORACLE,
    doc="OHLC candle rollup: per (user, 1 h tumbling bucket) the "
    "open/high/low/close of value plus event count and an EXACT "
    "integer-ppm value sum (a double sum would be partial-order-"
    "dependent; the quantized sum is associative, so any partitioning "
    "gives the same bits). Open/close are min/max over the "
    "(ts_us, event_id, value) struct — one hash aggregate, no window "
    "function on the Spark side, ties broken by event_id identically "
    "on both engines. The timeseries-downsampling shape (candles, "
    "telemetry rollups) at any scale: single map-side-combinable "
    "aggregation keyed by (user, bucket)",
    tags=("window", "timeseries", "ext"),
)
def w16_ohlc_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select(
        "user_id",
        F.floor(us / F.lit(3_600_000_000)).cast("bigint").alias("bucket"),
        us.alias("us"),
        "event_id",
        "value",
        F.floor(F.col("value") * 1e6 + F.lit(0.5)).cast("bigint").alias("qv"),
    )
    first_s = F.min(F.struct("us", "event_id", "value"))
    last_s = F.max(F.struct("us", "event_id", "value"))
    return e.groupBy("user_id", "bucket").agg(
        F.count("*").cast("bigint").alias("n_events"),
        stable_round(first_s.getField("value"), 6).alias("open"),
        stable_round(F.max("value"), 6).alias("high"),
        stable_round(F.min("value"), 6).alias("low"),
        stable_round(last_s.getField("value"), 6).alias("close"),
        F.sum("qv").cast("bigint").alias("sum_value_ppm"),
    )


# ---------------------------------------------------------------------------
# w17: deterministic rate limiter (stream throttling, batch-expressed)
# ---------------------------------------------------------------------------

_RATE_N = 3  # events allowed per (user, window)
_RATE_WINDOW_US = 600_000_000  # 10-minute tumbling buckets

_RATE_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id,
         epoch_us(ts) AS us,
         epoch_us(ts) // {_RATE_WINDOW_US} AS bucket
  FROM events
),
r AS (
  SELECT user_id, event_id, bucket,
         row_number() OVER (PARTITION BY user_id, bucket
                            ORDER BY us, event_id) AS rn
  FROM e
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN rn <= {_RATE_N} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > {_RATE_N} THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       floor((sum(CASE WHEN rn > {_RATE_N} THEN 1 ELSE 0 END) * 1.0 / count(*))
             * 1e6 + 0.5) / 1e6 AS drop_frac
FROM r GROUP BY user_id
"""


@query(
    "w17_rate_limit",
    oracle=_RATE_ORACLE,
    doc=f"Deterministic rate limiter: at most {_RATE_N} events per "
    "(user, 10-min tumbling bucket) survive, earliest-first with "
    "event_id tie-break; per-user kept/dropped totals and drop "
    "fraction. The batch twin of a streaming throttle (the decision "
    "is a pure function of (user, bucket, arrival rank) so a "
    "transformWithState port emits identical verdicts). Shape: one "
    "window ranked within (user, bucket) — the partition key is the "
    "rate-limit key, so state never crosses executors — then one "
    "user-keyed aggregate. No global ordering anywhere",
    tags=("window", "timeseries", "ext"),
)
def w17_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.floor(us / F.lit(_RATE_WINDOW_US)).cast("bigint").alias("bucket"),
    )
    w = Window.partitionBy("user_id", "bucket").orderBy("us", "event_id")
    r = e.withColumn("rn", F.row_number().over(w))
    dropped = F.sum((F.col("rn") > _RATE_N).cast("int"))
    return r.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.sum((F.col("rn") <= _RATE_N).cast("int")).cast("bigint").alias("n_kept"),
        dropped.cast("bigint").alias("n_dropped"),
        stable_round(dropped * F.lit(1.0) / F.count("*"), 6).alias("drop_frac"),
    )


# ---------------------------------------------------------------------------
# w18: exponential moving average (finite-horizon, halving decay)
# ---------------------------------------------------------------------------

_EMA_HORIZON = 8  # last 8 observations; weight 2^-k for the k-th newest

_EMA_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us, value
  FROM events WHERE value IS NOT NULL
),
lw AS (
  SELECT user_id, event_id,
         list_sort(list({{'us': us, 'event_id': event_id, 'v': value}})
                   OVER (PARTITION BY user_id ORDER BY us, event_id
                         ROWS BETWEEN {_EMA_HORIZON - 1} PRECEDING AND CURRENT ROW))
           AS w
  FROM e
)
SELECT user_id, event_id,
       CAST(len(w) AS BIGINT) AS n_in_window,
       floor((list_reduce(list_transform(w, s -> s.v),
                          (acc, x) -> acc / 2 + x)
              / (2 - power(2, 1 - len(w)))) * 1e6 + 0.5) / 1e6 AS ema
FROM lw
"""


@query(
    "w18_ema_decay",
    oracle=_EMA_ORACLE,
    doc=f"Exponential moving average with halving decay over the last "
    f"{_EMA_HORIZON} observations per user: the k-th newest value "
    "weighs 2^-k, normalized by the finite-window weight total "
    "(2 - 2^(1-n)). The IIR cousin of the reference's centered "
    "smoothing (W2/A11), used for telemetry trend lines and score "
    "decay. Exactness: the decay fold is a SEQUENTIAL left fold "
    "(acc/2 + x) over the window values sorted by (ts, event_id) — "
    "identical operation order on both engines — and every weight is "
    "a power of two, so each halving is an exact double operation. "
    "Shape: one bounded-frame window collect per row (frame height "
    f"{_EMA_HORIZON}, cost O(rows x {_EMA_HORIZON}) with no shuffle "
    "beyond the user partition), then a per-row fold — no UDF",
    tags=("window", "timeseries", "ext"),
)
def w18_ema_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select("user_id", "event_id", us.alias("us"), "value")
    frame = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(-(_EMA_HORIZON - 1), 0)
    )
    # Collect the frame as (us, event_id, v) structs and sort — frame
    # order is already (us, event_id), but the explicit array_sort
    # makes the fold order a property of the DATA, not of collect
    # internals, on both engines.
    lw = e.select(
        "user_id",
        "event_id",
        F.array_sort(
            F.collect_list(F.struct("us", "event_id", F.col("value").alias("v"))).over(
                frame
            )
        ).alias("w"),
    )
    fold = F.expr(
        "aggregate(transform(w, s -> s.v), cast(0.0 as double),"
        " (acc, x) -> acc / 2 + x)"
    )
    norm = F.lit(2.0) - F.pow(F.lit(2.0), F.lit(1.0) - F.size("w"))
    return lw.select(
        "user_id",
        "event_id",
        F.size("w").cast("bigint").alias("n_in_window"),
        stable_round(fold / norm, 6).alias("ema"),
    )


# ---------------------------------------------------------------------------
# w19: forward fill (last-observation-carried-forward)
# ---------------------------------------------------------------------------

_FFILL_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, epoch_us(ts) AS us,
         CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
  FROM events
)
SELECT user_id, event_id, v AS value_raw,
       last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY us, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled,
       v IS NULL AND last_value(v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY us, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) IS NOT NULL
         AS was_filled
FROM e
"""


@query(
    "w19_forward_fill",
    oracle=_FFILL_ORACLE,
    doc="Forward fill (LOCF): per user in (ts, event_id) order, gaps "
    "carry the last observed value forward; leading gaps stay null. "
    "The telemetry-repair companion to W4's interpolation (which needs "
    "BOTH endpoints; LOCF is the causal variant a streaming consumer "
    "can apply). Gaps are synthesized deterministically (event_id % 7) "
    "so both engines fill the same holes. Shape: one user-keyed "
    "running window (last ignorenulls over an unbounded-preceding "
    "frame) — a single hash exchange, O(1) state per row in the "
    "running scan, no UDF. Filled values are ORIGINAL doubles passed "
    "through untouched, so no rounding layer is needed",
    tags=("window", "timeseries", "ext"),
)
def w19_forward_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    e = ev.select(
        "user_id",
        "event_id",
        us.alias("us"),
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")).alias("v"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    filled = F.last("v", ignorenulls=True).over(w)
    return e.select(
        "user_id",
        "event_id",
        F.col("v").alias("value_raw"),
        filled.alias("value_filled"),
        (F.col("v").isNull() & filled.isNotNull()).alias("was_filled"),
    )


# ---------------------------------------------------------------------------
# w20: conversion latency distribution over the funnel
# ---------------------------------------------------------------------------


# Composed from the funnel oracle: the latency report describes exactly
# the funnel users run.
_CONVERSION_LATENCY_ORACLE = f"""
WITH f AS ({_FUNNEL_ORACLE}),
conv AS (
  SELECT user_id,
         t1_us // 86400000000 AS cohort_day,
         (t3_us - t1_us + 500) // 1000 AS latency_ms
  FROM f WHERE stage = 3
)
SELECT cohort_day,
       CAST(count(*) AS BIGINT) AS n_converted,
       CAST(min(latency_ms) AS BIGINT) AS min_ms,
       CAST(max(latency_ms) AS BIGINT) AS max_ms,
       floor(quantile_cont(latency_ms, 0.5) * 1e4 + 0.5) / 1e4 AS p50_ms,
       floor(quantile_cont(latency_ms, 0.9) * 1e4 + 0.5) / 1e4 AS p90_ms
FROM conv GROUP BY cohort_day
"""


@query(
    "w20_conversion_latency",
    oracle=_CONVERSION_LATENCY_ORACLE,
    doc="Conversion-latency distribution: for users who completed the "
    "w12 funnel, view->purchase latency in integer milliseconds "
    "(microsecond difference rounded on the integer grid — the j9 "
    "timestamp-delta rule), bucketed by first-view cohort day, with "
    "count, min/max and exact p50/p90 (Spark percentile() and DuckDB "
    "quantile_cont() share the continuous-interpolation definition, "
    "verified bit-identical in sketch_quantile_sampled). The product "
    "report every funnel dashboard ships. Shape: the funnel's "
    "single-shuffle fold, then one cohort-day aggregate — the exact "
    "percentile swaps to sketch_quantile_sampled's bounded-memory "
    "path at 100 TB",
    tags=("window", "timeseries", "eval", "ext"),
)
def w20_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    f = w12_funnel_steps(spark, sf_dir)
    conv = f.filter(F.col("stage") == 3).select(
        F.expr("t1_us div 86400000000").alias("cohort_day"),
        F.expr("(t3_us - t1_us + 500) div 1000").alias("latency_ms"),
    )
    return conv.groupBy("cohort_day").agg(
        F.count("*").cast("bigint").alias("n_converted"),
        F.min("latency_ms").cast("bigint").alias("min_ms"),
        F.max("latency_ms").cast("bigint").alias("max_ms"),
        stable_round(F.percentile("latency_ms", F.lit(0.5)), 4).alias("p50_ms"),
        stable_round(F.percentile("latency_ms", F.lit(0.9)), 4).alias("p90_ms"),
    )


# ---------------------------------------------------------------------------
# w21: multi-touch attribution (linear + first/last touch)
# ---------------------------------------------------------------------------

_ATTR_WINDOW_US = 7 * 86_400_000_000  # 7-day lookback
_ATTR_TOUCH_TYPES = ("view", "click", "signup")

_ATTR_ORACLE = f"""
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
nx AS (
  SELECT *, min(CASE WHEN event_type = 'purchase' THEN us END)
             OVER (PARTITION BY user_id ORDER BY us, event_id
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS conv_us
  FROM e
),
touch AS (
  SELECT user_id, event_id, event_type, us, conv_us
  FROM nx
  WHERE event_type IN {str(tuple(_ATTR_TOUCH_TYPES))}
    AND conv_us IS NOT NULL AND conv_us - us <= {_ATTR_WINDOW_US}
),
ranked AS (
  SELECT *, CAST(count(*) OVER (PARTITION BY user_id, conv_us) AS BIGINT) AS k,
         row_number() OVER (PARTITION BY user_id, conv_us
                            ORDER BY us, event_id) AS rn_f,
         row_number() OVER (PARTITION BY user_id, conv_us
                            ORDER BY us DESC, event_id DESC) AS rn_l
  FROM touch
),
credited AS (
  SELECT event_type, user_id, conv_us, rn_f, rn_l,
         ((2 * 1000000 + k) // (2 * k)) AS credit_ppm
  FROM ranked
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT CAST(user_id AS VARCHAR) || ':'
                  || CAST(conv_us AS VARCHAR)) AS BIGINT) AS n_conversions,
       CAST(sum(CASE WHEN rn_f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS first_touches,
       CAST(sum(CASE WHEN rn_l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS last_touches,
       floor((sum(credit_ppm) * 1.0 / 1e6) * 1e6 + 0.5) / 1e6 AS linear_credit
FROM credited GROUP BY event_type
"""


@query(
    "w21_attribution_linear",
    oracle=_ATTR_ORACLE,
    doc="Multi-touch conversion attribution: each touchpoint (view/"
    "click/signup) binds to the user's NEXT purchase within a 7-day "
    "lookback (causal next-conversion via one user-keyed forward-min "
    "window — no join), then per conversion the linear model splits "
    "credit 1/k across its k touches while first/last-touch models "
    "count the endpoint ranks. Credits are integer ppm (round-half-up "
    "1e6/k), so per-channel totals are exact BIGINT sums — "
    "partitioning-independent, one final division. Shape: one "
    "user-keyed exchange shared by the forward-min and the per-"
    "conversion rank windows, then a channel-keyed aggregate; output "
    "O(channels). The marketing-analytics staple (the reference's "
    "eval arm has the same join-free rank-window shape in A6's "
    "cumulative precision)",
    tags=("window", "timeseries", "ext"),
)
def w21_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nx = e.withColumn(
        "conv_us",
        F.min(F.when(F.col("event_type") == "purchase", F.col("us"))).over(fwd),
    )
    touch = nx.filter(
        F.col("event_type").isin(*_ATTR_TOUCH_TYPES)
        & F.col("conv_us").isNotNull()
        & (F.col("conv_us") - F.col("us") <= _ATTR_WINDOW_US)
    )
    grp = Window.partitionBy("user_id", "conv_us")
    ranked = touch.select(
        "event_type",
        "user_id",
        "conv_us",
        F.count("*").over(grp).cast("bigint").alias("k"),
        F.row_number()
        .over(grp.orderBy("us", "event_id"))
        .alias("rn_f"),
        F.row_number()
        .over(grp.orderBy(F.col("us").desc(), F.col("event_id").desc()))
        .alias("rn_l"),
    )
    credited = ranked.withColumn(
        "credit_ppm", F.expr("(2 * 1000000 + k) div (2 * k)")
    )
    conv_key = F.concat(
        F.col("user_id").cast("string"), F.lit(":"), F.col("conv_us").cast("string")
    )
    return credited.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_touches"),
        F.countDistinct(conv_key).cast("bigint").alias("n_conversions"),
        F.sum(F.when(F.col("rn_f") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("first_touches"),
        F.sum(F.when(F.col("rn_l") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("last_touches"),
        stable_round(F.sum("credit_ppm") * F.lit(1.0) / F.lit(1e6), 6).alias(
            "linear_credit"
        ),
    )


# ---------------------------------------------------------------------------
# w22: event-type Markov transition matrix
# ---------------------------------------------------------------------------

_MARKOV_ORACLE = """
WITH e AS (
  SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events
),
seq AS (
  SELECT event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY us, event_id) AS dst
  FROM e
),
pairs AS (SELECT src, dst FROM seq WHERE dst IS NOT NULL),
cnt AS (
  SELECT src, dst, CAST(count(*) AS BIGINT) AS n_transitions
  FROM pairs GROUP BY src, dst
),
tot AS (
  SELECT src, CAST(sum(n_transitions) AS BIGINT) AS n_src FROM cnt GROUP BY src
)
SELECT c.src, c.dst, c.n_transitions, t.n_src,
       floor((c.n_transitions * 1.0 / t.n_src) * 1e6 + 0.5) / 1e6 AS p
FROM cnt c JOIN tot t ON c.src = t.src
"""


@query(
    "w22_markov_transitions",
    oracle=_MARKOV_ORACLE,
    doc="First-order Markov transition matrix over per-user event "
    "sequences: P(next event_type | current) from one lead window in "
    "(ts, event_id) order — the behavioral-model fit that powers "
    "next-action prediction and anomaly baselines (w15's CEP patterns "
    "are its hand-written special cases). Counts are exact BIGINTs; "
    "the single division happens per (src, dst) cell at the end. "
    "Shape: one user-keyed exchange for the lead window, then a "
    "(src, dst)-keyed map-side-combinable count and a tiny "
    "src-marginal join — output O(types^2) however large the corpus",
    tags=("window", "timeseries", "ext"),
)
def w22_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    seq = e.select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    cnt = seq.groupBy("src", "dst").agg(
        F.count("*").cast("bigint").alias("n_transitions")
    )
    tot = cnt.groupBy("src").agg(
        F.sum("n_transitions").cast("bigint").alias("n_src")
    )
    return cnt.join(F.broadcast(tot), "src").select(
        "src",
        "dst",
        "n_transitions",
        "n_src",
        stable_round(
            F.col("n_transitions") * F.lit(1.0) / F.col("n_src"), 6
        ).alias("p"),
    )


# ---------------------------------------------------------------------------
# w23: RFM customer segmentation (round 7)
# ---------------------------------------------------------------------------

_RFM_ORACLE = """
WITH p AS (
  SELECT user_id, epoch_us(ts) AS us,
         CAST(floor(value * 1e6 + 0.5) AS BIGINT) AS vmicro
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
),
per_user AS (
  SELECT user_id, max(us) AS last_us, CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(vmicro) AS BIGINT) AS mon
  FROM p GROUP BY user_id
),
anchor AS (SELECT max(us) AS amax FROM p),
r AS (
  SELECT user_id, CAST((amax - last_us) // 86400000000 AS BIGINT) AS r_days,
         freq, mon
  FROM per_user CROSS JOIN anchor
),
th AS (
  SELECT quantile_cont(r_days, 0.2) AS r20, quantile_cont(r_days, 0.4) AS r40,
         quantile_cont(r_days, 0.6) AS r60, quantile_cont(r_days, 0.8) AS r80,
         quantile_cont(freq, 0.2) AS f20, quantile_cont(freq, 0.4) AS f40,
         quantile_cont(freq, 0.6) AS f60, quantile_cont(freq, 0.8) AS f80,
         quantile_cont(mon, 0.2) AS m20, quantile_cont(mon, 0.4) AS m40,
         quantile_cont(mon, 0.6) AS m60, quantile_cont(mon, 0.8) AS m80
  FROM r
),
scored AS (
  SELECT user_id, r_days, freq, mon / 1e6 AS monetary,
         CAST(1 + CAST(r_days < r80 AS INTEGER) + CAST(r_days < r60 AS INTEGER)
                + CAST(r_days < r40 AS INTEGER) + CAST(r_days < r20 AS INTEGER)
              AS INTEGER) AS r_score,
         CAST(1 + CAST(freq > f20 AS INTEGER) + CAST(freq > f40 AS INTEGER)
                + CAST(freq > f60 AS INTEGER) + CAST(freq > f80 AS INTEGER)
              AS INTEGER) AS f_score,
         CAST(1 + CAST(mon > m20 AS INTEGER) + CAST(mon > m40 AS INTEGER)
                + CAST(mon > m60 AS INTEGER) + CAST(mon > m80 AS INTEGER)
              AS INTEGER) AS m_score
  FROM r CROSS JOIN th
)
SELECT user_id, r_days, freq, monetary, r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
            WHEN r_score >= 4 THEN 'recent'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
            ELSE 'other' END AS segment
FROM scored
"""


@query(
    "w23_rfm_segments",
    oracle=_RFM_ORACLE,
    doc="RFM customer segmentation (Hughes' classic recency/frequency/"
    "monetary scoring): per user over purchase events, recency in "
    "integer days from the corpus's last purchase (exact microsecond "
    "arithmetic, the j9 timestamp-delta rule), purchase count, and "
    "monetary total summed as BIGINT micro-units so combine order "
    "cannot flip low bits. Quintile scores come from exact 20/40/60/80 "
    "percentiles compared branchlessly — NOT a global ntile() window, "
    "which would pull every user into one partition; the thresholds "
    "are a 1-row broadcast, the score pass is embarrassingly parallel "
    "(strict compares on bit-identical IEEE inputs: Spark percentile() "
    "== DuckDB quantile_cont(), the sketch_quantile_sampled finding). "
    "Segments via the standard champion/recent/loyal/at_risk CASE. "
    "Shape: one fact filter + user-keyed aggregate, two 1-row "
    "broadcasts; the exact percentile swaps to the "
    "sketch_quantile_sampled bounded-memory path at 100 TB",
    tags=("window", "timeseries", "analytics", "ext"),
)
def w23_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import track_persist

    p = (
        load(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & F.col("value").isNotNull())
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("vmicro"),
        )
    )
    per_user = p.groupBy("user_id").agg(
        F.max("us").alias("last_us"),
        F.count("*").cast("bigint").alias("freq"),
        F.sum("vmicro").cast("bigint").alias("mon"),
    )
    anchor = p.agg(F.max("us").alias("amax"))
    r = track_persist(
        per_user.crossJoin(F.broadcast(anchor)).select(
            "user_id",
            F.expr("(amax - last_us) div 86400000000").cast("bigint").alias("r_days"),
            "freq",
            "mon",
        )
    )
    th = r.agg(
        *[
            F.percentile(c, F.lit(q)).alias(f"{a}{int(q * 100)}")
            for c, a in (("r_days", "r"), ("freq", "f"), ("mon", "m"))
            for q in (0.2, 0.4, 0.6, 0.8)
        ]
    )
    b = lambda cond: cond.cast("int")  # noqa: E731
    scored = r.crossJoin(F.broadcast(th)).select(
        "user_id",
        "r_days",
        "freq",
        (F.col("mon") / F.lit(1e6)).alias("monetary"),
        (
            F.lit(1)
            + b(F.col("r_days") < F.col("r80"))
            + b(F.col("r_days") < F.col("r60"))
            + b(F.col("r_days") < F.col("r40"))
            + b(F.col("r_days") < F.col("r20"))
        )
        .cast("int")
        .alias("r_score"),
        (
            F.lit(1)
            + b(F.col("freq") > F.col("f20"))
            + b(F.col("freq") > F.col("f40"))
            + b(F.col("freq") > F.col("f60"))
            + b(F.col("freq") > F.col("f80"))
        )
        .cast("int")
        .alias("f_score"),
        (
            F.lit(1)
            + b(F.col("mon") > F.col("m20"))
            + b(F.col("mon") > F.col("m40"))
            + b(F.col("mon") > F.col("m60"))
            + b(F.col("mon") > F.col("m80"))
        )
        .cast("int")
        .alias("m_score"),
    )
    return scored.select(
        "user_id",
        "r_days",
        "freq",
        "monetary",
        "r_score",
        "f_score",
        "m_score",
        F.when(
            (F.col("r_score") >= 4) & (F.col("f_score") >= 4), F.lit("champion")
        )
        .when(F.col("r_score") >= 4, F.lit("recent"))
        .when(F.col("f_score") >= 4, F.lit("loyal"))
        .when(
            (F.col("r_score") <= 2) & (F.col("f_score") >= 3), F.lit("at_risk")
        )
        .otherwise(F.lit("other"))
        .alias("segment"),
    )


# ---------------------------------------------------------------------------
# w24: rolling active users (round 7) — DAU / trailing-7-day WAU
# ---------------------------------------------------------------------------

_WAU_WINDOW_DAYS = 7

_WAU_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
  FROM events
),
cov AS (
  SELECT DISTINCT user_id, day + o AS day
  FROM ud, unnest(range(0, {_WAU_WINDOW_DAYS})) AS u(o)
),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY day),
wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM cov GROUP BY day)
SELECT d.day AS day, dau.dau, wau.wau,
       CAST((2 * dau.dau * 1000000 + wau.wau) // (2 * wau.wau) AS BIGINT)
         AS stickiness_ppm
FROM days d JOIN dau ON dau.day = d.day JOIN wau ON wau.day = d.day
"""


@query(
    "w24_active_users",
    oracle=_WAU_ORACLE,
    doc="Rolling engagement: per calendar day (exact integer-microsecond "
    f"day buckets) the distinct active users that day (DAU) and in the "
    f"trailing {_WAU_WINDOW_DAYS}-day window (WAU), plus the DAU/WAU "
    "stickiness ratio in exact rounded-integer ppm — the canonical "
    "product-engagement report. The rolling DISTINCT is NOT a windowed "
    "count-distinct (which Spark cannot express over ranges without a "
    "quadratic self-join): each (user, day) activity row explodes into "
    f"the {_WAU_WINDOW_DAYS} future days it covers, and WAU is a plain "
    "distinct count per covered day — fan-out is a CONSTANT 7x on the "
    "deduped user-day table (already collapsed from raw events), every "
    "shuffle keys on (user, day) or day. Days with zero events are "
    "absent rather than zero-filled, matching the deduped frame on "
    "both engines",
    tags=("window", "timeseries", "analytics", "ext"),
)
def w24_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import track_persist

    ud = track_persist(
        load(spark, sf_dir, "events")
        .select(
            "user_id",
            F.expr("unix_micros(cast(ts as timestamp)) div 86400000000").alias(
                "day"
            ),
        )
        .distinct()
    )
    cov = (
        ud.select(
            "user_id",
            F.explode(
                F.sequence(F.col("day"), F.col("day") + _WAU_WINDOW_DAYS - 1)
            ).alias("day"),
        )
        .distinct()
    )
    dau = ud.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    wau = cov.groupBy("day").agg(F.count("*").cast("bigint").alias("wau"))
    days = ud.select("day").distinct()
    return (
        days.join(dau, "day")
        .join(wau, "day")
        .select(
            "day",
            "dau",
            "wau",
            F.expr("(2 * dau * 1000000 + wau) div (2 * wau)")
            .cast("bigint")
            .alias("stickiness_ppm"),
        )
    )
