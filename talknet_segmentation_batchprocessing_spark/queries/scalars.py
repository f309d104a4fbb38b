"""X1-X17 scalar/array/string/math function queries (SURVEY.md §2.7).

Everything here is native Catalyst column arithmetic (whole-stage
codegen); the oracle recomputes the identical IEEE expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.geometry import box_center_size, iou, iou_one_sided
from ..functions.timebase import frame_to_seconds, remap_fps
from ..functions.rounding import stable_round
from ..functions.zorder import z_value, z_value_sql
from ..registry import load, query


@query(
    "x1_iou_arithmetic",
    oracle="""
WITH a AS (
  SELECT l_orderkey AS frame_id,
         l_discount * 100 AS ax1, l_tax * 100 AS ay1,
         l_discount * 100 + l_quantity AS ax2, l_tax * 100 + l_quantity AS ay2
  FROM lineitem WHERE l_linenumber = 1
), b AS (
  SELECT l_orderkey AS frame_id,
         l_discount * 100 AS bx1, l_tax * 100 AS by1,
         l_discount * 100 + l_quantity AS bx2, l_tax * 100 + l_quantity AS by2
  FROM lineitem WHERE l_linenumber = 2
)
SELECT a.frame_id,
       floor((greatest(0, least(ax2, bx2) - greatest(ax1, bx1))
             * greatest(0, least(ay2, by2) - greatest(ay1, by1))
             / ((ax2 - ax1) * (ay2 - ay1) + (bx2 - bx1) * (by2 - by1)
                - greatest(0, least(ax2, bx2) - greatest(ax1, bx1))
                  * greatest(0, least(ay2, by2) - greatest(ay1, by1)))) * 1e6 + 0.5) / 1e6 AS iou,
       floor((greatest(0, least(ax2, bx2) - greatest(ax1, bx1))
             * greatest(0, least(ay2, by2) - greatest(ay1, by1))
             / ((ax2 - ax1) * (ay2 - ay1))) * 1e6 + 0.5) / 1e6 AS iou_one_sided
FROM a JOIN b ON a.frame_id = b.frame_id
""",
    doc="X1 IoU + one-sided evalCol variant as pure column arithmetic "
    "(demoTalkNet.py:131-144)",
    tags=("X1",),
)
def x1_iou_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") == 1).select(
        F.col("l_orderkey").alias("frame_id"),
        (F.col("l_discount") * 100).alias("ax1"),
        (F.col("l_tax") * 100).alias("ay1"),
        (F.col("l_discount") * 100 + F.col("l_quantity")).alias("ax2"),
        (F.col("l_tax") * 100 + F.col("l_quantity")).alias("ay2"),
    )
    b = li.filter(F.col("l_linenumber") == 2).select(
        F.col("l_orderkey").alias("frame_id"),
        (F.col("l_discount") * 100).alias("bx1"),
        (F.col("l_tax") * 100).alias("by1"),
        (F.col("l_discount") * 100 + F.col("l_quantity")).alias("bx2"),
        (F.col("l_tax") * 100 + F.col("l_quantity")).alias("by2"),
    )
    return (
        a.join(b, "frame_id")
        .select(
            "frame_id",
            stable_round(iou("ax1", "ay1", "ax2", "ay2", "bx1", "by1", "bx2", "by2"), 6).alias("iou"),
            stable_round(
                iou_one_sided("ax1", "ay1", "ax2", "ay2", "bx1", "by1", "bx2", "by2"), 6
            ).alias("iou_one_sided"),
        )
    )


@query(
    "x2_box_center_size",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor(((l_discount * 100 + (l_discount * 100 + l_quantity)) / 2) * 1e6 + 0.5) / 1e6 AS cx,
       floor(((l_tax * 100 + (l_tax * 100 + l_quantity)) / 2) * 1e6 + 0.5) / 1e6 AS cy,
       floor((greatest((l_discount * 100 + l_quantity) - l_discount * 100,
                      (l_tax * 100 + l_quantity) - l_tax * 100) / 2) * 1e6 + 0.5) / 1e6 AS half_size
FROM lineitem
""",
    doc="X2 bbox -> center/half-size: s=max(h,w)/2 (demoTalkNet.py:185-189)",
    tags=("X2",),
)
def x2_box_center_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    x1 = F.col("l_discount") * 100
    y1 = F.col("l_tax") * 100
    x2 = F.col("l_discount") * 100 + F.col("l_quantity")
    y2 = F.col("l_tax") * 100 + F.col("l_quantity")
    cx, cy, s = box_center_size(x1, y1, x2, y2)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        stable_round(cx, 6).alias("cx"),
        stable_round(cy, 6).alias("cy"),
        stable_round(s, 6).alias("half_size"),
    )


@query(
    "x10_frame_seconds",
    oracle="""
SELECT event_id,
       floor((event_id / 25.0) * 1e6 + 0.5) / 1e6 AS ts_s,
       CAST(floor(event_id / 29.97 * 25) AS INTEGER) AS frame_25
FROM events
""",
    doc="X10 frame<->seconds + fps remap int(f/29.97*25) "
    "(extractSpeakingSegments.py:126; demoTalkNet.py:384)",
    tags=("X10",),
)
def x10_frame_seconds(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        stable_round(frame_to_seconds("event_id"), 6).alias("ts_s"),
        remap_fps("event_id", 29.97, 25.0).alias("frame_25"),
    )


@query(
    "x11_json_parse",
    oracle="""
SELECT event_id, CAST(props ->> '$.k' AS INTEGER) AS k
FROM events
""",
    doc="X11 structured-string parse (dataLoader.py:80-87 label array "
    "'[0,1,...]' parse; here the events.props JSON payload)",
    tags=("X11",),
)
def x11_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("k"),
    )


@query(
    "x12_uid_concat",
    oracle="""
SELECT event_id, concat(event_id, ':', event_type) AS uid
FROM events
""",
    doc="X12 uid concat ts:entity (get_ava_active_speaker_performance.py:85)",
    tags=("X12",),
)
def x12_uid_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.concat_ws(":", F.col("event_id").cast("string"), F.col("event_type")).alias("uid"),
    )


@query(
    "x13_string_parsing",
    oracle="""
SELECT doc_id,
       substr(source, 1, 4) AS src_prefix,
       printf('%05d', doc_id) AS padded_id,
       regexp_extract(source, '[0-9]+') AS src_num
FROM documents
""",
    doc="X13 path/name parsing: substring + %05d formatting + regex extract "
    "(dataLoader.py:9,51-52; extractSpeakingSegments.py:108,120-121)",
    tags=("X13",),
)
def x13_string_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.substring("source", 1, 4).alias("src_prefix"),
        F.format_string("%05d", "doc_id").alias("padded_id"),
        F.regexp_extract("source", "[0-9]+", 0).alias("src_num"),
    )


@query(
    "x6_av_length_align",
    oracle="""
SELECT l_orderkey, l_linenumber,
       floor((least((l_quantity - (CAST(l_quantity AS BIGINT) % 4)) / 100.0,
                   l_extendedprice / 25.0 / 1000.0)) * 1e6 + 0.5) / 1e6 AS aligned_len
FROM lineitem
""",
    doc="X6 A/V length alignment: min((nA - nA%%4)/100, nV/25) "
    "(demoTalkNet.py:252-254)",
    tags=("X6",),
)
def x6_av_length_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    na = F.col("l_quantity")
    nv = F.col("l_extendedprice")
    aligned = F.least(
        (na - (na.cast("bigint") % 4)) / 100.0, nv / 25.0 / 1000.0
    )
    return li.select("l_orderkey", "l_linenumber", stable_round(aligned, 6).alias("aligned_len"))


@query(
    "x7_wrap_pad_array",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INTEGER) AS orig_len,
       floor((CAST(padded[100] AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS sample_at_100
FROM (
  SELECT vec_id, embedding,
         flatten([embedding, embedding])[1:100] AS padded
  FROM embeddings
)
""",
    doc="X7 wrap-padding of short arrays to a target length "
    "(dataLoader.py:19-23 numpy.pad wrap mode): concat + slice",
    tags=("X7",),
)
def x7_wrap_pad_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    padded = F.slice(F.concat("embedding", "embedding"), 1, 100)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("orig_len"),
        stable_round(F.element_at(padded, 100).cast("double"), 6).alias("sample_at_100"),
    )


@query(
    "x19_json_field_stats",
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type
""",
    doc="JSON-path extraction over the events props column "
    "(get_json_object '$.k' -> bigint) + grouped stats — the "
    "semi-structured-column analog of X11's string-encoded array "
    "parse (dataLoader.py:80-87). Stays in codegen: Spark's JSON path "
    "evaluation is JVM-side, no UDF",
    tags=("X19", "ext"),
)
def x19_json_field_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).cast("bigint").alias("min_k"),
        F.max(k).cast("bigint").alias("max_k"),
    )


@query(
    "x17_timecode",
    oracle="""
SELECT event_id AS frame_num,
       lpad(CAST(event_id // 90000 AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST((event_id // 1500) % 60 AS VARCHAR), 2, '0') || ':' ||
       lpad(CAST((event_id // 25) % 60 AS VARCHAR), 2, '0') || '.' ||
       lpad(CAST((event_id % 25) * 40 AS VARCHAR), 3, '0') AS timecode,
       CAST((event_id % 25) AS INTEGER) AS frame_in_second
FROM events WHERE event_id < 5000
""",
    doc="X17: FrameTimecode arithmetic (scenedetect frame_num <-> "
    "HH:MM:SS.mmm at 25 fps, demoTalkNet.py:103-106,521-522) as pure "
    "integer expressions — 1 frame = exactly 40 ms so every field is "
    "exact integer math, no floats anywhere. Closes the one §2 row "
    "that had no registered query",
    tags=("X17",),
)
def x17_timecode(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 5000)
    f = F.col("event_id")
    pad = lambda c, n: F.lpad(c.cast("string"), n, "0")  # noqa: E731
    tc = F.concat_ws(
        "",
        pad(F.expr("event_id div 90000"), 2), F.lit(":"),
        pad(F.expr("(event_id div 1500) % 60"), 2), F.lit(":"),
        pad(F.expr("(event_id div 25) % 60"), 2), F.lit("."),
        pad((f % 25) * 40, 3),
    )
    return ev.select(
        f.alias("frame_num"),
        tc.alias("timecode"),
        (f % 25).cast("int").alias("frame_in_second"),
    )


@query(
    "x20_variant_json",
    oracle="""
SELECT event_id, k, k % 7 AS k_mod7 FROM (
  SELECT event_id,
         CASE WHEN json_valid(props)
              THEN CAST(json_extract_string(props, '$.k') AS BIGINT) END AS k
  FROM events WHERE event_id < 2000
) t
""",
    doc="Spark 4 VARIANT ingestion of the semi-structured props "
    "column: parse_json once into a VARIANT value, then typed "
    "variant_get path extraction — the shredding-friendly form that "
    "(unlike per-path get_json_object re-parses) parses each document "
    "ONCE no matter how many paths are read, which is the difference "
    "at 100 TB of JSON. Binary variant encoding stays JVM-side",
    tags=("X20", "ext"),
)
def x20_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    # try_parse_json: malformed/empty/null props become NULL variants
    # instead of failing the scan (real props columns are never clean)
    v = F.try_parse_json("props")
    k = F.variant_get(v, "$.k", "bigint")
    return ev.select(
        "event_id",
        k.alias("k"),
        (k % 7).alias("k_mod7"),
    )


@query(
    "x21_zorder_value",
    oracle=f"""
SELECT event_id, user_id % 4096 AS xk, event_id % 4096 AS yk,
       {z_value_sql('(user_id % 4096)', '(event_id % 4096)')} AS z
FROM events
""",
    doc="Z-order (Morton) curve value: interleave the low 12 bits of "
    "two keys into one linearization — the multi-dimensional "
    "data-skipping layout key (sorting a write by this value gives "
    "every parquet file a tight bounding box in BOTH keys, so min/max "
    "stats prune on either predicate). Pure shift/mask integer "
    "arithmetic, whole-stage codegen, zero shuffles; bit-identical on "
    "both engines",
    tags=("X21", "ext"),
)
def x21_zorder_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    xk = (F.col("user_id") % 4096).alias("xk")
    yk = (F.col("event_id") % 4096).alias("yk")
    return ev.select(
        "event_id", xk, yk, z_value(F.col("user_id") % 4096, F.col("event_id") % 4096).alias("z")
    )
