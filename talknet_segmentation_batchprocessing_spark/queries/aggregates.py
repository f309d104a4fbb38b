"""A1-A9 aggregation queries (SURVEY.md §2.4), including the full VOC
average-precision window pipeline (A6) and a TPC-H-Q1-shaped pricing
summary used as a bench headline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.aggregates import audio_energy_db, average_precision, per_speaker_f1
from ..plans.two_phase import parquet_rows
from ..functions.rounding import stable_round
from ..registry import load, query


@query(
    "a1_ensemble_round_avg",
    oracle="""
SELECT user_id, event_type, floor((avg(value)) * 1e1 + 0.5) / 1e1 AS score
FROM events GROUP BY user_id, event_type
""",
    doc="A1 duration-ensemble mean + round-half-up(x,1) (demoTalkNet.py:256-271; "
    "the 6-member collapsed durationSet quirk is documented in "
    "operators.aggregates.DURATION_SET)",
    tags=("A1", "X14"),
)
def a1_ensemble_round_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        stable_round(F.avg("value"), 1).alias("score")
    )


@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty,
       floor((sum(l_extendedprice)) * 1e2 + 0.5) / 1e2 AS sum_base_price,
       floor(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5)
                      AS BIGINT)) / 1e4 + 0.5) / 1e2 AS sum_disc_price,
       floor((avg(l_quantity)) * 1e4 + 0.5) / 1e4 AS avg_qty,
       floor((avg(l_extendedprice)) * 1e4 + 0.5) / 1e4 AS avg_price,
       floor((avg(l_discount)) * 1e4 + 0.5) / 1e4 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
    doc="TPC-H-Q1-shaped pricing summary: the canonical wide-agg scan; "
    "bench headline exercising partial aggregation + codegen",
    tags=("A1", "bench"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            stable_round(F.sum("l_quantity"), 2).alias("sum_qty"),
            stable_round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            # l_discount carries sub-cent float structure, so the
            # disc-price product has ~4-6 decimal structure: a plain
            # double sum rounded at 1e2 can land ON a .XX5 boundary and
            # flip with partition summation order (the w6_nms_greedy
            # flake class). Quantize the bit-identical per-row product
            # to an exact 1e6 integer grid, sum associatively, round.
            (
                F.floor(
                    F.sum(
                        F.floor(
                            F.col("l_extendedprice")
                            * (1 - F.col("l_discount"))
                            * F.lit(1e6)
                            + F.lit(0.5)
                        ).cast("bigint")
                    )
                    / F.lit(1e4)
                    + F.lit(0.5)
                )
                / F.lit(1e2)
            ).alias("sum_disc_price"),
            stable_round(F.avg("l_quantity"), 4).alias("avg_qty"),
            stable_round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            stable_round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


# exact-integer revenue grid shared by q3/q5 (the q1 sum_disc_price
# rule): quantize the per-row product to 1e6 BEFORE summing so the
# aggregate is an associative BIGINT total on both engines
_REV_PPM_SQL = (
    "CAST(floor(l_extendedprice * (1 - l_discount) * 1e6 + 0.5) AS BIGINT)"
)


def _rev_ppm_col():
    return F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")


_Q3_CUTOFF = "1997-06-30 00:00:00"

_Q3_ORACLE = f"""
WITH j AS (
  SELECT l.l_orderkey, o.o_orderdate, o.o_orderpriority,
         {_REV_PPM_SQL} AS rev_ppm
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_mktsegment = 'BUILDING'
    AND o.o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
    AND l.l_shipdate > TIMESTAMP '{_Q3_CUTOFF}'
),
g AS (
  SELECT l_orderkey, o_orderdate, o_orderpriority,
         CAST(sum(rev_ppm) AS BIGINT) AS rev_ppm_total
  FROM j GROUP BY l_orderkey, o_orderdate, o_orderpriority
)
SELECT l_orderkey, o_orderdate, o_orderpriority,
       floor(rev_ppm_total / 1e4 + 0.5) / 1e2 AS revenue
FROM g
ORDER BY rev_ppm_total DESC, l_orderkey
LIMIT 10
"""


@query(
    "q3_shipping_priority",
    oracle=_Q3_ORACLE,
    doc="TPC-H-Q3-shaped shipping priority (o_orderpriority stands in "
    "for the schema's absent o_shippriority): unshipped BUILDING-"
    "segment orders ranked by discounted revenue, top 10. The "
    "canonical selective multi-join: both dimension filters reach "
    "their scans; the filtered customer and orders sides grow linearly "
    "with SF (~25M rows at SF100), so no broadcast is forced — AQE "
    "picks broadcast when the runtime size is under the threshold and "
    "falls back to a shuffled hash join when it is not (a forced "
    "broadcast here would OOM the driver at scale); revenue sums on "
    "the exact 1e6 integer grid (q1's rule) and the top-10 is "
    "TakeOrdered on that exact BIGINT — cross-engine ranking cannot "
    "split on float low bits",
    tags=("A1", "join", "bench"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cutoff = F.lit(_Q3_CUTOFF.split(" ")[0]).cast("timestamp")
    cust = (
        load(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    )
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", _rev_ppm_col().alias("rev_ppm"))
    )
    j = li.join(
        orders.join(cust, orders.o_custkey == cust.c_custkey),
        li.l_orderkey == F.col("o_orderkey"),
    )
    g = j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority").agg(
        F.sum("rev_ppm").cast("bigint").alias("rev_ppm_total")
    )
    return (
        g.orderBy(F.col("rev_ppm_total").desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "o_orderdate",
            "o_orderpriority",
            (F.floor(F.col("rev_ppm_total") / F.lit(1e4) + F.lit(0.5)) / F.lit(1e2))
            .alias("revenue"),
        )
    )


_Q5_REGION = "ASIA"
_Q5_YEAR_LO = "1996-01-01 00:00:00"
_Q5_YEAR_HI = "1998-01-01 00:00:00"

_Q5_ORACLE = f"""
WITH j AS (
  SELECT n.n_name, {_REV_PPM_SQL} AS rev_ppm
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
                 AND c.c_nationkey = s.s_nationkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = '{_Q5_REGION}'
    AND o.o_orderdate >= TIMESTAMP '{_Q5_YEAR_LO}'
    AND o.o_orderdate < TIMESTAMP '{_Q5_YEAR_HI}'
)
SELECT n_name,
       CAST(count(*) AS BIGINT) AS n_items,
       floor(CAST(sum(rev_ppm) AS BIGINT) / 1e4 + 0.5) / 1e2 AS revenue
FROM j GROUP BY n_name
"""


@query(
    "q5_local_supplier_volume",
    oracle=_Q5_ORACLE,
    doc="TPC-H-Q5-shaped local supplier volume: revenue by nation for "
    "in-region orders where the supplier and customer share a nation — "
    "the canonical snowflake join (6 tables). The constant-size "
    "dimension chain (region->nation, 5/25 rows) broadcasts "
    "explicitly; the SF-linear sides (supplier, customer, filtered "
    "orders) are left to AQE, which broadcasts them while small and "
    "switches to shuffled hash joins at scale — forcing them would "
    "OOM the driver at SF100. The only guaranteed wide shuffle is the "
    "final nation-keyed aggregate (25 keys, map-side combined). "
    "Revenue on the exact 1e6 integer grid",
    tags=("A1", "join", "bench"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    lo = F.lit(_Q5_YEAR_LO.split(" ")[0]).cast("timestamp")
    hi = F.lit(_Q5_YEAR_HI.split(" ")[0]).cast("timestamp")
    region = (
        load(spark, sf_dir, "region")
        .filter(F.col("r_name") == _Q5_REGION)
        .select("r_regionkey")
    )
    nation = load(spark, sf_dir, "nation").join(
        F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey")
    )
    supp = load(spark, sf_dir, "supplier").join(
        F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
    ).select("s_suppkey", "s_nationkey", "n_name")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = (
        load(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi))
        .select("o_orderkey", "o_custkey")
    )
    oc = orders.join(cust, orders.o_custkey == cust.c_custkey)
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", _rev_ppm_col().alias("rev_ppm")
    )
    j = (
        li.join(oc, li.l_orderkey == F.col("o_orderkey"))
        .join(
            supp,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
    )
    return j.groupBy("n_name").agg(
        F.count("*").cast("bigint").alias("n_items"),
        (
            F.floor(F.sum("rev_ppm").cast("bigint") / F.lit(1e4) + F.lit(0.5))
            / F.lit(1e2)
        ).alias("revenue"),
    )


@query(
    "a3_counts",
    oracle="""
SELECT user_id, count(*) AS n_events,
       count(DISTINCT event_type) AS n_types
FROM events GROUP BY user_id
""",
    doc="A3 per-key counts (extractSpeakingSegments.py:40,90,141 segment/"
    "track counts)",
    tags=("A3",),
)
def a3_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
    )


@query(
    "a4_conditional_count",
    oracle="""
SELECT user_id,
       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_positive,
       count(*) AS n_total
FROM events GROUP BY user_id
""",
    doc="A4 positives count: count(*) FILTER (WHERE label='SPEAKING_AUDIBLE') "
    "(get_ava_active_speaker_performance.py:145-148)",
    tags=("A4",),
)
def a4_conditional_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("bigint")
        .alias("n_positive"),
        F.count("*").alias("n_total"),
    )


@query(
    "a5_per_speaker_f1",
    oracle="""
SELECT user_id AS speaker_id, count(*) AS n,
       CAST(sum(CASE WHEN pred = 1 AND gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       CAST(sum(CASE WHEN pred = 1 AND gt = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       CAST(sum(CASE WHEN pred = 0 AND gt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       CAST(sum(CASE WHEN pred = gt THEN 1 ELSE 0 END) AS BIGINT) AS correct,
       floor((sum(CASE WHEN pred = gt THEN 1 ELSE 0 END) / (1.0 * count(*))) * 1e6 + 0.5) / 1e6 AS accuracy,
       floor((CASE WHEN 2 * sum(CASE WHEN pred = 1 AND gt = 1 THEN 1 ELSE 0 END)
                       + sum(CASE WHEN pred = 1 AND gt = 0 THEN 1 ELSE 0 END)
                       + sum(CASE WHEN pred = 0 AND gt = 1 THEN 1 ELSE 0 END) > 0
             THEN 2.0 * sum(CASE WHEN pred = 1 AND gt = 1 THEN 1 ELSE 0 END)
                  / (2.0 * sum(CASE WHEN pred = 1 AND gt = 1 THEN 1 ELSE 0 END)
                     + sum(CASE WHEN pred = 1 AND gt = 0 THEN 1 ELSE 0 END)
                     + sum(CASE WHEN pred = 0 AND gt = 1 THEN 1 ELSE 0 END))
             ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS f1
FROM (
  SELECT user_id,
         CASE WHEN value > 50.0 THEN 1 ELSE 0 END AS pred,
         CASE WHEN event_type IN ('click', 'purchase') THEN 1 ELSE 0 END AS gt
  FROM events
) GROUP BY user_id
""",
    doc="A5 per-speaker ACC/F1 over binarized scores "
    "(demoTalkNet.py:425-437 Columbia eval): grouped conditional sums + "
    "F1 arithmetic — runs the per_speaker_f1 operator",
    tags=("A5",),
)
def a5_per_speaker_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.col("user_id").alias("speaker_id"),
        (F.col("value") - 50.0).alias("score"),  # >0 <=> value>50
        F.col("event_type").isin("click", "purchase").cast("int").alias("gt"),
    )
    return per_speaker_f1(scored, "speaker_id", "gt", "score")


@query(
    "a6_average_precision",
    oracle="""
WITH ranked AS (
  SELECT event_id, value AS score,
         CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS lab,
         row_number() OVER (ORDER BY value DESC, event_id) AS rnk
  FROM events
), cum AS (
  SELECT *,
         sum(lab) OVER (ORDER BY score DESC, event_id ROWS UNBOUNDED PRECEDING) AS tp,
         sum(lab) OVER () AS pos
  FROM ranked
), pr AS (
  SELECT event_id, score, tp * 1.0 / rnk AS prec, tp * 1.0 / pos AS rec
  FROM cum
), sm AS (
  SELECT *,
         max(prec) OVER (ORDER BY score DESC, event_id
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sprec,
         rec - coalesce(lag(rec) OVER (ORDER BY score DESC, event_id), 0.0) AS dr
  FROM pr
)
SELECT floor((sum(dr * sprec)) * 1e6 + 0.5) / 1e6 AS ap FROM sm
""",
    doc="A6 VOC average precision as a pure window pipeline "
    "(get_ava_active_speaker_performance.py:23-67,151-177): rank by score "
    "desc, cumsum TP, precision/recall, suffix-max monotone smoothing, "
    "sum(delta_recall * precision) — flagship eval query",
    tags=("A6", "flagship"),
)
def a6_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    scored = ev.select(
        F.col("event_id").alias("uid"),
        F.col("value").alias("score"),
        (F.col("event_type") == "click").cast("int").alias("is_positive"),
    )
    # Footer-metadata upper bound (a pure projection of events): below
    # the crossover this skips the eager persist+count action entirely.
    return average_precision(
        scored, "score", "is_positive", tiebreak_cols=("uid",),
        n_upper=parquet_rows(sf_dir, "events"),
    )


@query(
    "a7_extent_minmax_first",
    oracle="""
WITH firsts AS (
  SELECT user_id, event_type AS first_event FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
  ) WHERE rn = 1
)
SELECT e.user_id, min(e.ts) AS start_ts, max(e.ts) AS end_ts,
       any_value(f.first_event) AS first_event
FROM events e JOIN firsts f ON e.user_id = f.user_id
GROUP BY e.user_id
""",
    doc="A7 entity clip extent: per entity first/last timestamp + first "
    "attribute (utils/tools.py:115,125-139)",
    tags=("A7",),
)
def a7_extent_minmax_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    firsts = (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("first_event"))
    )
    return (
        ev.join(firsts, "user_id")
        .groupBy("user_id")
        .agg(
            F.min("ts").alias("start_ts"),
            F.max("ts").alias("end_ts"),
            F.any_value("first_event").alias("first_event"),
        )
    )


@query(
    "a8_distinct",
    oracle="SELECT DISTINCT event_type, user_id FROM events",
    doc="A8 distinct entity list (utils/tools.py:112-116 unique().tolist())",
    tags=("A8",),
)
def a8_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select("event_type", "user_id").distinct()


@query(
    "a9_energy_db",
    oracle="""
SELECT vec_id,
       floor((10.0 * log10(
         list_sum(list_transform(CAST(embedding AS DOUBLE[]), x -> x * x))
           / len(embedding) + 0.0001)) * 1e4 + 0.5) / 1e4 AS energy_db
FROM embeddings
""",
    doc="A9 audio energy dB: 10*log10(mean(x^2)+1e-4) over a sample array "
    "via higher-order aggregate, no UDF (dataLoader.py:24-26)",
    tags=("A9",),
)
def a9_energy_db(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    arr = F.col("embedding").cast("array<double>")
    return emb.select(
        "vec_id", stable_round(audio_energy_db(arr), 4).alias("energy_db")
    )


@query(
    "ext_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       floor((sum(l_quantity)) * 1e2 + 0.5) / 1e2 AS sum_qty, count(*) AS n
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
""",
    doc="Extension surface: ROLLUP grouping sets (free from Spark; the "
    "reference has none — SURVEY.md §2.4 note)",
    tags=("ext",),
)
def ext_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        stable_round(F.sum("l_quantity"), 2).alias("sum_qty"), F.count("*").alias("n")
    )


@query(
    "ext_cube",
    oracle="""
SELECT o_orderstatus, o_orderpriority,
       floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS sum_price, count(*) AS n
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="Extension surface: CUBE grouping sets",
    tags=("ext",),
)
def ext_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        stable_round(F.sum("o_totalprice"), 2).alias("sum_price"), F.count("*").alias("n")
    )


_PIVOT_ORACLE = """
SELECT user_id,
       floor((coalesce(sum(CASE WHEN event_type = 'click' THEN value END), 0)) * 1e2 + 0.5) / 1e2 AS v_click,
       floor((coalesce(sum(CASE WHEN event_type = 'view' THEN value END), 0)) * 1e2 + 0.5) / 1e2 AS v_view,
       floor((coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0)) * 1e2 + 0.5) / 1e2 AS v_purchase
FROM events GROUP BY user_id
"""


@query(
    "ext_pivot",
    oracle=_PIVOT_ORACLE,
    doc="Extension surface: pivot (conditional-agg form on the oracle side)",
    tags=("ext",),
)
def ext_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    p = (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "view", "purchase"])
        .agg(F.sum("value"))
    )
    return p.select(
        "user_id",
        stable_round(F.coalesce(F.col("click"), F.lit(0.0)), 2).alias("v_click"),
        stable_round(F.coalesce(F.col("view"), F.lit(0.0)), 2).alias("v_view"),
        stable_round(F.coalesce(F.col("purchase"), F.lit(0.0)), 2).alias("v_purchase"),
    )


@query(
    "ext_unpivot",
    oracle=f"""
WITH p AS ({_PIVOT_ORACLE})
SELECT user_id, metric, v
FROM (UNPIVOT p ON v_click, v_view, v_purchase INTO NAME metric VALUE v)
""",
    doc="Extension surface: UNPIVOT/melt — the inverse of ext_pivot, "
    "exercising Spark's native DataFrame.unpivot (Expand under the "
    "hood: one stateless row-multiplying projection, no shuffle, no "
    "UDF) against DuckDB's UNPIVOT on the same pivoted frame. The "
    "wide->long reshape every feature-store export needs; cost is "
    "O(rows * melted_cols) map-side work with zero exchanges beyond "
    "the parent's",
    tags=("ext",),
)
def ext_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = ext_pivot(spark, sf_dir)
    return p.unpivot(
        "user_id", ["v_click", "v_view", "v_purchase"], "metric", "v"
    )


@query(
    "agg_salted_hot_keys",
    oracle="""
SELECT event_type, count(*) AS n,
       floor((sum(value)) * 1e2 + 0.5) / 1e2 AS sum_value,
       max(value) AS max_value
FROM events GROUP BY event_type
""",
    doc="Skew-safe aggregation (plans/skew.salted_agg): events has a "
    "handful of hot event_type keys — the exact shape where one "
    "reducer key drowns. Partial aggregate on (key, salt) spreads "
    "each hot key over 16 subkeys; explicit merge functions "
    "re-combine. Result identical to the direct GROUP BY (2dp "
    "rounding pins the double summation order on both engines)",
    tags=("A", "skew", "ext"),
)
def agg_salted_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.skew import salted_agg

    ev = load(spark, sf_dir, "events").select("event_type", "value")
    out = salted_agg(
        ev,
        ["event_type"],
        {
            "n": (F.count("*"), F.sum),
            "sum_value_raw": (F.sum("value"), F.sum),
            "max_value": (F.max("value"), F.max),
        },
    )
    return out.select(
        "event_type",
        "n",
        stable_round(F.col("sum_value_raw"), 2).alias("sum_value"),
        "max_value",
    )


@query(
    "agg_time_rollup",
    oracle="""
WITH e AS (
  SELECT event_type, value,
         epoch_us(date_trunc('day', ts)) AS day_us,
         epoch_us(date_trunc('hour', ts)) AS hour_us
  FROM events
)
SELECT day_us, hour_us, event_type, count(*) AS n,
       floor(sum(value) * 1e2 + 0.5) / 1e2 AS sum_value,
       CAST(grouping(day_us) * 4 + grouping(hour_us) * 2
            + grouping(event_type) AS INTEGER) AS lvl
FROM e
GROUP BY GROUPING SETS ((day_us, hour_us, event_type),
                        (day_us, hour_us), (day_us), ())
""",
    doc="Hypertable-style time rollup (the TimescaleDB continuous- "
    "aggregate shape): hour-per-type, hour, day, and grand totals in "
    "ONE pass over the events stream table — GROUPING SETS expands to "
    "a single Expand + partial-aggregating hash aggregate, so the "
    "100 TB scan happens once, not once per granularity, and each "
    "coarser level is also derivable from the finer one by re- "
    "aggregation (the incremental-refresh property). Time keys are "
    "exact truncated integer microseconds on both engines; grouping() "
    "bits disambiguate levels exactly like the engines' own rollup id",
    tags=("aggregate", "ext"),
)
def agg_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    ev.select(
        "event_type",
        "value",
        F.unix_micros(F.date_trunc("day", F.col("ts").cast("timestamp"))).alias(
            "day_us"
        ),
        F.unix_micros(F.date_trunc("hour", F.col("ts").cast("timestamp"))).alias(
            "hour_us"
        ),
    ).createOrReplaceTempView("_tr_events")
    return spark.sql("""
        SELECT day_us, hour_us, event_type, count(*) AS n,
               floor(sum(value) * 1e2 + 0.5) / 1e2 AS sum_value,
               CAST(grouping(day_us) * 4 + grouping(hour_us) * 2
                    + grouping(event_type) AS INT) AS lvl
        FROM _tr_events
        GROUP BY GROUPING SETS ((day_us, hour_us, event_type),
                                (day_us, hour_us), (day_us), ())
    """)
