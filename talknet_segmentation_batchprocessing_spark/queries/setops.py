"""U1-U4 set-operation queries (SURVEY.md §2.6)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..plans.two_phase import global_rank, parquet_rows
from ..registry import load, query


@query(
    "u1_union_all",
    oracle="""
SELECT event_id, event_type, 'pos' AS side FROM events WHERE event_type = 'click'
UNION ALL
SELECT event_id, event_type, 'neg' AS side FROM events WHERE event_type = 'error'
""",
    doc="U1 union of positive+negative label partitions "
    "(utils/tools.py:110-114 pandas.concat)",
    tags=("U1", "F7"),
)
def u1_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    pos = ev.filter(F.col("event_type") == "click").select(
        "event_id", "event_type", F.lit("pos").alias("side")
    )
    neg = ev.filter(F.col("event_type") == "error").select(
        "event_id", "event_type", F.lit("neg").alias("side")
    )
    return pos.unionByName(neg)


@query(
    "u2_union_modulo_split",
    oracle="""
SELECT event_id, event_type, split FROM (
  SELECT event_id, event_type,
         CASE WHEN (row_number() OVER (ORDER BY event_id) - 1) % 100 < 90
              THEN 'train' ELSE 'val' END AS split
  FROM events
)
""",
    doc="U2 union of variants + deterministic modulo train/val split "
    "(TalkSet/generate_TalkSet.py:364-391: num %% 30000 < 27000)",
    tags=("U2",),
)
def u2_union_modulo_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    # Two-phase global rank (bucket-local row_number + count offsets)
    # instead of a single-partition ORDER BY window.
    # Footer-metadata upper bound (pure projection of events): below
    # the crossover the eager persist+count action is skipped.
    ranked = global_rank(
        ev.select("event_id", "event_type"), "event_id", out_col="_rn",
        n_upper=parquet_rows(sf_dir, "events"),
    )
    split = F.when(((F.col("_rn") - 1) % 100) < 90, F.lit("train")).otherwise(
        F.lit("val")
    )
    return ranked.select("event_id", "event_type", split.alias("split"))


@query(
    "u3_except",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
EXCEPT
SELECT user_id FROM events WHERE event_type = 'error'
""",
    doc="U3 set difference: exclude self/err keys from the pool "
    "(dataLoader.py:16 set(keys) - {dataName})",
    tags=("U3",),
)
def u3_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    error_users = ev.filter(F.col("event_type") == "error").select("user_id")
    return clickers.subtract(error_users)  # EXCEPT (distinct) semantics


@query(
    "u4_explode_duration_set",
    oracle="""
SELECT duration, event_type FROM
  (SELECT unnest([1, 2, 3, 4, 5, 6]) AS duration),
  (SELECT DISTINCT event_type FROM events)
""",
    doc="U4 duration multiset explode (demoTalkNet.py:233-234 set-literal "
    "collapse: {1,1,1,2,2,2,3,3,4,5,6} -> 6 distinct) x scoring variants",
    tags=("U4", "A1"),
)
def u4_explode_duration_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import DURATION_SET

    ev = load(spark, sf_dir, "events")
    durations = spark.range(1).select(
        F.explode(F.array(*[F.lit(d) for d in DURATION_SET])).alias("duration")
    )
    return durations.crossJoin(ev.select("event_type").distinct())


@query(
    "ext_semi_anti_join",
    oracle="""
SELECT c.c_custkey, c.c_name, TRUE AS has_orders
FROM customer c WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c.c_custkey, c.c_name, FALSE AS has_orders
FROM customer c WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    doc="Semi + anti join (SURVEY §7 free built-ins): customers with / "
    "without orders via leftsemi / leftanti — no row duplication, the "
    "join stops at first match. Both halves share one scan pair",
    tags=("ext", "join"),
)
def ext_semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_name")
    ok = load(spark, sf_dir, "orders").select("o_custkey")
    semi = cust.join(ok, cust.c_custkey == ok.o_custkey, "leftsemi").withColumn(
        "has_orders", F.lit(True)
    )
    anti = cust.join(ok, cust.c_custkey == ok.o_custkey, "leftanti").withColumn(
        "has_orders", F.lit(False)
    )
    return semi.unionByName(anti)


@query(
    "ext_grouping_sets",
    oracle="""
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       floor((sum(o_totalprice)) * 1e2 + 0.5) / 1e2 AS sum_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
    doc="GROUPING SETS (SURVEY §7 free built-ins; completes the "
    "rollup/cube trio): per-status, per-priority, and grand totals in "
    "one pass — Catalyst expands to a single Expand + hash aggregate, "
    "not three scans",
    tags=("ext",),
)
def ext_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               floor(sum(o_totalprice) * 1e2 + 0.5) / 1e2 AS sum_price
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


_MERGE_HASH = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"


def merge_frames(target: DataFrame, updates: DataFrame, on: str) -> DataFrame:
    """MERGE semantics as one relational operator: full outer join on
    ``on``; matched rows take the update's values (INCLUDING explicit
    NULLs — the gate is side PRESENCE, not per-column coalesce, so
    ``UPDATE SET c = NULL`` works and NULL-KEYED rows on either side
    keep their own payload), unmatched updates insert, unmatched
    target rows carry over. Adds a ``merge_action`` audit column
    ('kept' | 'updated' | 'inserted').

    Deviation from SQL MERGE: duplicate keys in ``updates`` fan the
    full-outer join out into duplicate output rows instead of raising
    a multiple-match error."""
    cols = [c for c in target.columns if c != on]
    # side-presence sentinels: a NULL merge key never joins, so key
    # nullness cannot distinguish "row absent from this side" from
    # "row present with a NULL key" — the sentinel can
    t = target.withColumn("_t_present", F.lit(True)).alias("t")
    u = updates.withColumn("_u_present", F.lit(True)).alias("u")
    t_here = F.col("t._t_present").isNotNull()
    u_here = F.col("u._u_present").isNotNull()
    action = (
        F.when(~t_here, "inserted").when(~u_here, "kept").otherwise("updated")
    )
    return t.join(u, F.col(f"t.{on}") == F.col(f"u.{on}"), "full_outer").select(
        F.when(u_here, F.col(f"u.{on}")).otherwise(F.col(f"t.{on}")).alias(on),
        *[
            F.when(u_here, F.col(f"u.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
            for c in cols
        ],
        action.alias("merge_action"),
    )


@query(
    "u5_merge_upsert",
    oracle=f"""
WITH target AS (
  SELECT doc_id, lang, n_chars FROM documents WHERE {_MERGE_HASH} % 10 < 8
),
updates AS (
  SELECT doc_id, lang, n_chars + 1000 AS n_chars
  FROM documents WHERE doc_id % 3 = 0
)
SELECT coalesce(t.doc_id, u.doc_id) AS doc_id,
       CASE WHEN u.doc_id IS NOT NULL THEN u.lang ELSE t.lang END AS lang,
       CASE WHEN u.doc_id IS NOT NULL THEN u.n_chars ELSE t.n_chars END AS n_chars,
       CASE WHEN t.doc_id IS NULL THEN 'inserted'
            WHEN u.doc_id IS NULL THEN 'kept'
            ELSE 'updated' END AS merge_action
FROM target t FULL OUTER JOIN updates u ON u.doc_id = t.doc_id
""",
    doc="MERGE INTO semantics (upsert) as one relational operator: a "
    "FULL OUTER join on the key, update rows win where both sides "
    "match, unmatched updates insert, unmatched target rows carry "
    "over — with the per-row merge_action audit column every "
    "incremental-ingest job wants. At scale both sides hash-partition "
    "on the key (one shuffle each)",
    tags=("U5", "ext", "pipeline"),
)
def u5_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    key_hash = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint") % 10
    )
    target = docs.filter(key_hash < 8)
    updates = docs.filter(F.col("doc_id") % 3 == 0).select(
        "doc_id", "lang", (F.col("n_chars") + 1000).alias("n_chars")
    )
    return merge_frames(target, updates, on="doc_id")


@query(
    "u6_intersect",
    oracle="""
SELECT user_id FROM events WHERE event_type = 'click'
INTERSECT
SELECT user_id FROM events WHERE event_type = 'purchase'
""",
    doc="U6 set intersection (round 7): users who both clicked AND "
    "purchased — INTERSECT DISTINCT semantics via DataFrame.intersect, "
    "completing the set-op family (union/union-split/except/explode/"
    "merge already in). Spark plans it as a left-semi hash aggregate "
    "on the key — one exchange per side, no row payload survives the "
    "shuffle",
    tags=("U6", "ext"),
)
def u6_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return clickers.intersect(buyers)


_SCD2_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         CASE WHEN lag(event_type) OVER w IS NULL
                   OR event_type <> lag(event_type) OVER w
              THEN 1 ELSE 0 END AS chg
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), g AS (
  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS ver
  FROM o
), runs AS (
  SELECT user_id, CAST(ver AS BIGINT) AS version, event_type,
         min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
  FROM g GROUP BY user_id, ver, event_type
)
SELECT user_id, version, event_type, valid_from,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         AS valid_to,
       n_events,
       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
         IS NULL AS is_current
FROM runs
"""


@query(
    "u7_scd2_history",
    oracle=_SCD2_ORACLE,
    doc="Slowly-changing-dimension type-2 history build (the lakehouse "
    "companion of U5's MERGE): treat each user's event stream as CDC "
    "updates to a tracked attribute (event_type) and emit one validity "
    "interval per attribute RUN — [valid_from, valid_to) stitched with "
    "lead(), open-ended is_current row last, a version counter, and "
    "the run's event count. Ties on ts break on event_id on both "
    "engines. Plan shape: ONE hash exchange on user_id serves every "
    "stage — the change-flag/version windows, the per-run aggregate "
    "(user_id is a prefix of the grouping key, so the existing "
    "clustering satisfies it), and the lead() stitch — the W1 islands "
    "spine with the interval-stitch epilogue dimension builds need. "
    "At 100 TB: no broadcast, no skew risk beyond per-user history "
    "length, output rows = number of attribute changes, not events",
    tags=("U7", "ext", "pipeline"),
)
def u7_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = ev.withColumn(
        "_chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.col("event_type") != F.lag("event_type").over(w)),
            1,
        ).otherwise(0),
    ).withColumn("_ver", F.sum("_chg").over(wcum))
    runs = flagged.groupBy("user_id", "_ver", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("_ver")
    to = F.lead("valid_from").over(wv)
    return runs.select(
        "user_id",
        F.col("_ver").cast("bigint").alias("version"),
        "event_type",
        "valid_from",
        to.alias("valid_to"),
        "n_events",
        to.isNull().alias("is_current"),
    )


# The incremental cutoff: an exact integer-microsecond point 70% into
# the [min, max] event-time range — identical on both engines, so the
# history/delta split is reproducible anywhere.
_SCD2_CUT_NUM = 7
_SCD2_CUT_DEN = 10


@query(
    "u8_scd2_merge",
    oracle=_SCD2_ORACLE,  # the equivalence theorem: incremental == rebuild
    doc="Incremental SCD2 delta-merge — the production nightly job U7 "
    "only bootstraps: split events at an exact integer-microsecond "
    "cutoff (70% into the time range), build yesterday's history from "
    "the old half, then MERGE the new half in WITHOUT reprocessing "
    "old events: closed intervals pass through untouched; each user's "
    "OPEN interval becomes a weighted seed pseudo-event (carrying its "
    "accumulated event count and version offset) and the islands fold "
    "re-runs over seed + delta only. The oracle is u7's rebuild SQL "
    "over ALL events verbatim — the driver checks the merge theorem "
    "(incremental == full rebuild) row for row. Scale shape: the "
    "bootstrap half is one user-keyed exchange (u7's plan); the merge "
    "half exchanges ONLY seeds + delta events — the whole point of "
    "incremental maintenance at 100 TB. Ties break on event_id; seeds "
    "sort first via event_id = -1 (real ids are non-negative)",
    tags=("U8", "ext", "pipeline"),
)
def u8_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    rng = ev.agg(
        F.min(us).alias("mn"), F.max(us).alias("mx")
    )
    cut = F.expr(f"mn + (mx - mn) * {_SCD2_CUT_NUM} div {_SCD2_CUT_DEN}")
    tagged = ev.crossJoin(F.broadcast(rng.select(cut.alias("cut_us")))).select(
        "user_id", "event_id", "event_type", "ts", us.alias("us"), "cut_us"
    )
    hist_ev = tagged.filter(F.col("us") <= F.col("cut_us"))
    delta = tagged.filter(F.col("us") > F.col("cut_us"))

    # yesterday's history: u7's islands over the old half
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    flagged = hist_ev.withColumn(
        "_chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.col("event_type") != F.lag("event_type").over(w)),
            1,
        ).otherwise(0),
    ).withColumn("_ver", F.sum("_chg").over(wcum))
    runs = flagged.groupBy("user_id", "_ver", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.count("*").cast("bigint").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("_ver")
    hist = runs.select(
        "user_id",
        F.col("_ver").cast("bigint").alias("version"),
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )
    closed = hist.filter(F.col("valid_to").isNotNull()).select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        "valid_to",
        "n_events",
        F.lit(False).alias("is_current"),
    )
    # each user's open interval -> a weighted seed pseudo-event that
    # also carries the user's version offset (its own version - 1)
    seeds = hist.filter(F.col("valid_to").isNull()).select(
        "user_id",
        F.lit(-1).cast("bigint").alias("event_id"),
        "event_type",
        F.col("valid_from").alias("ts"),
        F.col("n_events").alias("weight"),
        (F.col("version") - 1).alias("ver_off"),
    )
    delta_w = delta.select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        F.lit(1).cast("bigint").alias("weight"),
        F.lit(None).cast("bigint").alias("ver_off"),
    )
    merged_ev = seeds.unionByName(delta_w)
    # the re-fold sees ONLY seeds + delta — never the old events
    mflag = merged_ev.withColumn(
        "_chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.col("event_type") != F.lag("event_type").over(w)),
            1,
        ).otherwise(0),
    ).withColumn("_ver", F.sum("_chg").over(wcum))
    # per-user version offset: the seed's, else 0 (user new in delta)
    moff = mflag.withColumn(
        "_off",
        F.coalesce(
            F.max("ver_off").over(Window.partitionBy("user_id")), F.lit(0)
        ),
    )
    mruns = moff.groupBy("user_id", "_ver", "_off", "event_type").agg(
        F.min("ts").alias("valid_from"),
        F.sum("weight").cast("bigint").alias("n_events"),
    )
    mto = F.lead("valid_from").over(wv)
    refolded = mruns.select(
        "user_id",
        (F.col("_ver") + F.col("_off")).cast("bigint").alias("version"),
        "event_type",
        "valid_from",
        mto.alias("valid_to"),
        "n_events",
        mto.isNull().alias("is_current"),
    )
    return closed.unionByName(refolded)
