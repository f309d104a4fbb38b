"""Cardinality sketches with EXACT cross-engine oracles.

At 100 TB nobody counts distincts exactly on the hot path — they keep
a mergeable sketch per partition and combine. Spark's built-in
``approx_count_distinct`` (HLL++) can't be oracle-checked against
DuckDB (different hash + bias tables), so these queries implement the
two classic sketches from deterministic md5-derived hashes, making the
estimate itself bit-identical on both engines while keeping the real
sketch properties (one aggregation pass, mergeable partials, fixed
memory per group):

- **KMV** (k-minimum-values, Bar-Yossef et al. 2002): keep the k
  smallest normalized hash values per group; estimate distinct count
  as (k-1)/h_(k). Mergeable: union the value sets, re-take k smallest.
- **HLL** (Flajolet et al. 2007): 2^p registers, each holding the max
  leading-zero run of hashes landing in it; harmonic-mean estimate.
  Mergeable: element-wise register max. The rho (leading-zero) count
  is computed via BINARY STRING position — exact integer/string ops on
  both engines, never floating log2 (which flips at powers of two).

Both queries also compute the exact distinct count and the relative
error, so the result doubles as an accuracy audit of the sketch at the
test scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round
from ..registry import load, query, track_persist

# value hash: first 12 hex digits of md5 as bigint — [0, 2^48), the
# same deterministic family every dedup/sampling query uses. The
# sketched domain is per-language distinct word 3-SHINGLES (3-9k per
# language in the testdata — the regime where both sketch estimators
# actually estimate; raw tokens have a ~31-word synthetic vocabulary,
# which would leave KMV in its exact fallback and HLL far below its
# valid range).
_SQL_TOK_HASH = "CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT)"
_HASH_SPACE = float(1 << 48)

_KMV_K = 64

# distinct (lang, shingle) pairs — the DuckDB side of _lang_shingle_hashes
_SQL_LANG_SHINGLES = """
  SELECT DISTINCT lang, unnest(list_transform(range(1, len(w) - 1),
                 i -> array_to_string(w[i:i+2], ' '))) AS tok
  FROM (SELECT lang, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 3
"""


def _tok_hash():
    return F.conv(F.substring(F.md5(F.col("tok")), 1, 12), 16, 10).cast("bigint")


def _lang_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (lang, h) pairs in ONE distinct pass (round-12, guide
    §2.3/§2.4): hash every shingle OCCURRENCE and dedup the 8-byte
    hashes directly, instead of the old distinct-strings pass followed
    by a second distinct over the hashed rows — one full aggregation
    stage fewer, and the one shuffle that remains carries (lang,
    BIGINT) instead of (lang, string). Set equality is exact:
    distinct(hash(occurrences)) == distinct(hash(distinct(tok))) for
    any function of tok. KMV and HLL consume ONLY this hashed set, so
    their results are unchanged (oracle-held)."""
    from ..functions.shingles import word_shingles

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    d = docs.select("lang", F.split(F.lower("text"), " ").alias("w")).filter(
        F.size("w") >= 3
    )
    occ = d.select("lang", F.explode(word_shingles("w", 3)).alias("tok"))
    return occ.select("lang", _tok_hash().alias("h")).distinct()


_KMV_ORACLE = f"""
WITH toks AS ({_SQL_LANG_SHINGLES}),
hashed AS (
  SELECT DISTINCT lang, {_SQL_TOK_HASH} AS h FROM toks
),
ranked AS (
  SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn
  FROM hashed
),
exact AS (SELECT lang, count(*) AS n_exact FROM hashed GROUP BY lang),
kth AS (
  SELECT lang, max(h) AS hk, count(*) AS n_kept
  FROM ranked WHERE rn <= {_KMV_K} GROUP BY lang
)
SELECT e.lang, e.n_exact,
       CAST(CASE WHEN k.n_kept < {_KMV_K} THEN e.n_exact
            ELSE floor(({_KMV_K} - 1) * {_HASH_SPACE} / k.hk + 0.5) END AS BIGINT)
         AS n_est,
       floor(abs(CAST(CASE WHEN k.n_kept < {_KMV_K} THEN e.n_exact
                 ELSE floor(({_KMV_K} - 1) * {_HASH_SPACE} / k.hk + 0.5) END AS BIGINT)
                 - e.n_exact) * 1.0 / e.n_exact * 1e6 + 0.5) / 1e6 AS rel_err
FROM exact e JOIN kth k ON k.lang = e.lang
"""


@query(
    "sketch_kmv_distinct",
    oracle=_KMV_ORACLE,
    doc="KMV distinct-count sketch per language: k smallest md5 hash "
    "values of the distinct token set; estimate = (k-1)/h_(k) "
    "(normalized). When a group has fewer than k distinct values the "
    "sketch IS the exact answer. One distinct pass + a per-group "
    "top-k — at scale the k-smallest set is a partial aggregate "
    "(each partition keeps its own k smallest, merge keeps k "
    "smallest of the union), so the shuffle carries k values per "
    "group, never the token stream. Exact integer/ratio arithmetic; "
    "estimate is bit-identical on both engines",
    tags=("sketch", "dataset", "ext"),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = track_persist(_lang_shingle_hashes(spark, sf_dir))
    exact = hashed.groupBy("lang").agg(F.count("*").alias("n_exact"))
    w = Window.partitionBy("lang").orderBy("h")
    kth = (
        hashed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy("lang")
        .agg(F.max("h").alias("hk"), F.count("*").alias("n_kept"))
    )
    est = F.when(F.col("n_kept") < _KMV_K, F.col("n_exact")).otherwise(
        F.floor((_KMV_K - 1) * F.lit(_HASH_SPACE) / F.col("hk") + 0.5)
    ).cast("bigint")
    return (
        exact.join(kth, "lang")
        .withColumn("n_est", est)
        .select(
            "lang",
            "n_exact",
            "n_est",
            stable_round(
                F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
    )


_HLL_P = 10  # 2^10 = 1024 registers
_HLL_M = 1 << _HLL_P
_HLL_WBITS = 38  # 48-bit hash minus 10 register-index bits
# alpha_m for m >= 128 (Flajolet et al. 2007)
_HLL_ALPHA = 0.7213 / (1.0 + 1.079 / _HLL_M)

# rho via binary STRING: lpad the 38 value bits, find the first '1'.
# strpos/instr returns 0 when w == 0 -> rho = WBITS + 1 by the HLL
# definition (all-zero suffix), handled with the max-run fallback.
_SQL_RHO = (
    f"CASE WHEN (h // {_HLL_M}) = 0 THEN {_HLL_WBITS + 1} "
    f"ELSE strpos(lpad(bin(h // {_HLL_M}), {_HLL_WBITS}, '0'), '1') END"
)
_SPARK_RHO = (
    f"CASE WHEN (h div {_HLL_M}) = 0 THEN {_HLL_WBITS + 1} "
    f"ELSE instr(lpad(bin(h div {_HLL_M}), {_HLL_WBITS}, '0'), '1') END"
)

_HLL_ORACLE = f"""
WITH toks AS ({_SQL_LANG_SHINGLES}),
hashed AS (
  SELECT DISTINCT lang, {_SQL_TOK_HASH} AS h FROM toks
),
regs AS (
  SELECT lang, h % {_HLL_M} AS reg, max({_SQL_RHO}) AS rho
  FROM hashed GROUP BY lang, h % {_HLL_M}
),
est AS (
  SELECT lang,
         CAST(floor(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}
              / (sum(power(2.0, -rho)) + ({_HLL_M} - count(*)) * 1.0) + 0.5)
           AS BIGINT) AS n_est
  FROM regs GROUP BY lang
),
exact AS (SELECT lang, count(*) AS n_exact FROM hashed GROUP BY lang)
SELECT e.lang, e.n_exact, s.n_est,
       floor(abs(s.n_est - e.n_exact) * 1.0 / e.n_exact * 1e6 + 0.5) / 1e6 AS rel_err
FROM exact e JOIN est s ON s.lang = e.lang
"""


@query(
    "sketch_hll_distinct",
    oracle=_HLL_ORACLE,
    doc="HyperLogLog distinct-count sketch per language: 1024 "
    "registers keyed by the low hash bits, each holding the max "
    "leading-zero run (rho) of the high bits; raw harmonic-mean "
    "estimate (empty registers contribute 2^0, the textbook raw "
    "formula without the small/large-range corrections). rho comes "
    "from BINARY-STRING position, not floating log2, and the "
    "2^-rho sums are dyadic rationals added exactly in double "
    "(sum <= m, grid 2^-39 -> 49 bits < 53), so the estimate is "
    "bit-identical on both engines. One groupBy(group, register) "
    "pass, mergeable by register max — THE cardinality sketch shape "
    "for 100 TB scans (Spark's approx_count_distinct is the same "
    "algorithm with an uncheckable hash)",
    tags=("sketch", "dataset", "ext"),
)
def sketch_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = track_persist(_lang_shingle_hashes(spark, sf_dir))
    regs = hashed.groupBy(
        "lang", (F.col("h") % _HLL_M).alias("reg")
    ).agg(F.max(F.expr(_SPARK_RHO)).alias("rho"))
    est = regs.groupBy("lang").agg(
        F.floor(
            F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
            / (
                F.sum(F.pow(F.lit(2.0), -F.col("rho")))
                + (F.lit(_HLL_M) - F.count("*")) * F.lit(1.0)
            )
            + 0.5
        )
        .cast("bigint")
        .alias("n_est")
    )
    exact = hashed.groupBy("lang").agg(F.count("*").alias("n_exact"))
    return exact.join(est, "lang").select(
        "lang",
        "n_exact",
        "n_est",
        stable_round(
            F.abs(F.col("n_est") - F.col("n_exact")) / F.col("n_exact"), 6
        ).alias("rel_err"),
    )


_QS_RATE_PCT = 10  # deterministic 10% row sample
_SQL_EID_HASH = "CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 12)) AS BIGINT)"

_QUANTILE_ORACLE = f"""
WITH s AS (
  SELECT event_type, value,
         {_SQL_EID_HASH} % 100 < {_QS_RATE_PCT} AS in_sample
  FROM events
),
ex AS (
  SELECT event_type, count(*) AS n,
         quantile_cont(value, 0.5) AS p50_exact,
         quantile_cont(value, 0.9) AS p90_exact
  FROM s GROUP BY event_type
),
sm AS (
  SELECT event_type,
         quantile_cont(value, 0.5) AS p50_est,
         quantile_cont(value, 0.9) AS p90_est
  FROM s WHERE in_sample GROUP BY event_type
)
SELECT e.event_type, e.n,
       floor(e.p50_exact * 1e4 + 0.5) / 1e4 AS p50_exact,
       floor(s.p50_est * 1e4 + 0.5) / 1e4 AS p50_est,
       floor(e.p90_exact * 1e4 + 0.5) / 1e4 AS p90_exact,
       floor(s.p90_est * 1e4 + 0.5) / 1e4 AS p90_est,
       floor(abs(s.p90_est - e.p90_exact) * 1e4 + 0.5) / 1e4 AS p90_abs_err
FROM ex e JOIN sm s ON s.event_type = e.event_type
"""


@query(
    "sketch_quantile_sampled",
    oracle=_QUANTILE_ORACLE,
    doc="Sampled quantiles vs exact — the approximate-query-processing "
    "shape for percentiles at scale: the exact per-group percentile "
    "aggregate buffers EVERY value (memory grows with the group), "
    "while the md5-hash 10% sample bounds the buffer at rate x group "
    "and is deterministic (same rows every run, both engines). Spark "
    "percentile() and DuckDB quantile_cont() share the continuous "
    "interpolation definition (verified bit-identical), stable-rounded "
    "anyway. Output carries exact + estimate + absolute error per "
    "group, so the sample rate's accuracy is audited in-query",
    tags=("sketch", "dataset", "ext"),
)
def sketch_quantile_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_id", "event_type", "value")
    in_sample = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint") % 100 < _QS_RATE_PCT
    )
    s = ev.select("event_type", "value", in_sample.alias("in_sample"))
    ex = s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.percentile("value", 0.5).alias("p50_exact"),
        F.percentile("value", 0.9).alias("p90_exact"),
    )
    sm = (
        s.filter("in_sample")
        .groupBy("event_type")
        .agg(
            F.percentile("value", 0.5).alias("p50_est"),
            F.percentile("value", 0.9).alias("p90_est"),
        )
    )
    return ex.join(sm, "event_type").select(
        "event_type",
        "n",
        stable_round("p50_exact", 4).alias("p50_exact"),
        stable_round("p50_est", 4).alias("p50_est"),
        stable_round("p90_exact", 4).alias("p90_exact"),
        stable_round("p90_est", 4).alias("p90_est"),
        stable_round(F.abs(F.col("p90_est") - F.col("p90_exact")), 4).alias(
            "p90_abs_err"
        ),
    )


_CM_D = 4    # hash rows
_CM_W = 512  # counters per row

# word-shingle OCCURRENCES (with multiplicity — frequencies, not the
# distinct set the KMV/HLL queries sketch)
_SQL_SHINGLE_OCC = """
  SELECT unnest(list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))) AS tok
  FROM (SELECT string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 3
"""

_SQL_CM_HASH = (
    "CAST(('0x' || substr(md5(CAST(i AS VARCHAR) || ':' || tok), 1, 12)) AS BIGINT)"
    f" % {_CM_W}"
)

_COUNTMIN_ORACLE = f"""
WITH toks AS ({_SQL_SHINGLE_OCC}),
rows_ AS (SELECT unnest(range(0, {_CM_D})) AS i),
cells AS (
  SELECT i, {_SQL_CM_HASH} AS h, count(*) AS c
  FROM toks CROSS JOIN rows_ GROUP BY 1, 2
),
dtoks AS (SELECT DISTINCT tok FROM toks),
est AS (
  SELECT t.tok, min(c.c) AS n_est
  FROM dtoks t CROSS JOIN rows_ AS r
  JOIN cells c ON c.i = r.i AND c.h = (
    CAST(('0x' || substr(md5(CAST(r.i AS VARCHAR) || ':' || t.tok), 1, 12)) AS BIGINT)
    % {_CM_W})
  GROUP BY t.tok
),
exact AS (SELECT tok, count(*) AS n_exact FROM toks GROUP BY tok)
SELECT e.tok, s.n_est, e.n_exact, s.n_est - e.n_exact AS overestimate
FROM exact e JOIN est s ON s.tok = e.tok
ORDER BY s.n_est DESC, e.tok
LIMIT 10
"""


@query(
    "sketch_countmin_topk",
    oracle=_COUNTMIN_ORACLE,
    doc=f"Count-Min frequency sketch + heavy hitters: {_CM_D} md5-salted "
    f"hash rows x {_CM_W} counters built in ONE map-side-combinable "
    "aggregation over the shingle occurrence stream (the shuffle "
    "carries at most d*w counters per partition, never tokens); each "
    "distinct shingle's estimate is the MIN over its d counters — the "
    "classic conservative overestimate, exposed in the overestimate "
    "audit column (always >= 0 by construction). Top-10 heavy hitters "
    "by estimate via TakeOrderedAndProject, ties broken by token. At "
    "100 TB the candidate set for the top-k comes from per-partition "
    "heavy hitters (SpaceSaving-style) instead of estimating every "
    "distinct token; the sketch build is identical. Bit-identical "
    "md5-derived hashing on both engines",
    tags=("sketch", "dataset", "ext"),
)
def sketch_countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.shingles import word_shingles

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # Round-12 rewrite (guide §2.3 "aggregate before you shuffle"):
    # aggregate the occurrence stream to per-token counts ONCE, then
    # build the sketch from the (distinct token, count) frame with the
    # counts as weights — sum(count) per cell equals the old per-
    # occurrence count(*) exactly (integer arithmetic), the exact
    # counts double as the audit column, and the 4-way salted md5 runs
    # over the distinct vocabulary instead of over every occurrence
    # (the old plan hashed occurrences x 4 for the cells AND distinct
    # x 4 again for the estimates, plus a third full aggregation for
    # the exact counts). One candidate frame feeds both cell build and
    # estimate lookup.
    occ = (
        docs.select(F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(F.explode(word_shingles("w", 3)).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("n_exact"))
    )
    rows = F.broadcast(
        spark.range(0, _CM_D).select(F.col("id").alias("i"))
    )
    cm_hash = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("tok"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % _CM_W
    )
    cand = track_persist(
        occ.crossJoin(rows).select("tok", "n_exact", "i", cm_hash.alias("h"))
    )
    cells = cand.groupBy("i", "h").agg(F.sum("n_exact").alias("c"))
    est = (
        cand.join(F.broadcast(cells), ["i", "h"])
        .groupBy("tok")
        .agg(F.min("c").alias("n_est"), F.first("n_exact").alias("n_exact"))
    )
    return (
        est.select(
            "tok",
            "n_est",
            "n_exact",
            (F.col("n_est") - F.col("n_exact")).alias("overestimate"),
        )
        .orderBy(F.desc("n_est"), "tok")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# sketch SET ALGEBRA: union / intersection / Jaccard between corpora
# ---------------------------------------------------------------------------

# Two disjoint corpora by source id: A = src0..src9, B = src10..src19.
_SQL_IS_A = "CAST(substr(source, 4) AS INTEGER) < 10"

# distinct (corpus-membership, word-3-shingle) pairs
_SQL_CORPUS_TOKS = f"""
  SELECT DISTINCT ({_SQL_IS_A}) AS is_a,
         unnest(list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))) AS tok
  FROM (SELECT source, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 3
"""

_SETOP_ORACLE = f"""
WITH toks AS ({_SQL_CORPUS_TOKS}),
hashed AS (
  SELECT {_SQL_TOK_HASH} AS h,
         max(CASE WHEN is_a THEN 1 ELSE 0 END) AS in_a,
         max(CASE WHEN is_a THEN 0 ELSE 1 END) AS in_b
  FROM toks GROUP BY 1
),
exact AS (
  SELECT CAST(sum(in_a) AS BIGINT) AS n_a_exact,
         CAST(sum(in_b) AS BIGINT) AS n_b_exact,
         CAST(count(*) AS BIGINT) AS n_union_exact,
         CAST(sum(in_a * in_b) AS BIGINT) AS n_inter_exact
  FROM hashed
),
ka AS (SELECT max(h) AS hk, count(*) AS n_kept
       FROM (SELECT h FROM hashed WHERE in_a = 1 ORDER BY h LIMIT {_KMV_K})),
kb AS (SELECT max(h) AS hk, count(*) AS n_kept
       FROM (SELECT h FROM hashed WHERE in_b = 1 ORDER BY h LIMIT {_KMV_K})),
ku AS (SELECT max(h) AS hk, CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
              count(*) AS n_kept
       FROM (SELECT h, in_a, in_b FROM hashed ORDER BY h LIMIT {_KMV_K})),
est AS (
  SELECT
    CAST(CASE WHEN ka.n_kept < {_KMV_K} THEN e.n_a_exact
         ELSE floor(({_KMV_K} - 1) * {_HASH_SPACE} / ka.hk + 0.5) END AS BIGINT)
      AS est_a,
    CAST(CASE WHEN kb.n_kept < {_KMV_K} THEN e.n_b_exact
         ELSE floor(({_KMV_K} - 1) * {_HASH_SPACE} / kb.hk + 0.5) END AS BIGINT)
      AS est_b,
    CAST(CASE WHEN ku.n_kept < {_KMV_K} THEN e.n_union_exact
         ELSE floor(({_KMV_K} - 1) * {_HASH_SPACE} / ku.hk + 0.5) END AS BIGINT)
      AS est_union,
    ku.n_both AS n_both,
    e.*
  FROM exact e CROSS JOIN ka CROSS JOIN kb CROSS JOIN ku
)
SELECT n_a_exact, n_b_exact, n_union_exact, n_inter_exact,
       est_a, est_b, est_union,
       CAST(floor(n_both * est_union * 1.0 / {_KMV_K} + 0.5) AS BIGINT) AS est_inter,
       floor(n_inter_exact * 1.0 / n_union_exact * 1e6 + 0.5) / 1e6 AS jaccard_exact,
       floor(n_both * 1.0 / {_KMV_K} * 1e6 + 0.5) / 1e6 AS jaccard_est,
       floor(abs(est_union - n_union_exact) * 1.0 / n_union_exact * 1e6 + 0.5) / 1e6
         AS union_rel_err
FROM est
"""


@query(
    "sketch_kmv_setops",
    oracle=_SETOP_ORACLE,
    doc="KMV sketch SET ALGEBRA between two corpora (sources src0-9 vs "
    "src10-19): per-corpus distinct-shingle KMV sketches, the UNION "
    "sketch (k smallest of the combined hash set — exactly the merge "
    "rule, so it is computable from the two corpus sketches alone), "
    "Jaccard estimated as the fraction of the union sketch's k values "
    "present in both corpora (Bar-Yossef et al. 2002), and "
    "|A-and-B| ~= jaccard * |A-or-B|. THE shape for 'how much does "
    "crawl B overlap crawl A' at 100 TB: each corpus keeps a k-value "
    "sketch (k=64 bigints), the overlap estimate needs NO join "
    "between the corpora — sketches merge on the driver. Every "
    "k-smallest here is a TakeOrderedAndProject (per-partition top-k, "
    "merge of k-sized heads — a partial aggregate, never a global "
    "sort). Exact counts + estimates + rel-err audit in one row, "
    "bit-identical md5 hashing on both engines",
    tags=("sketch", "dataset", "ext"),
)
def sketch_kmv_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    from ..functions.shingles import word_shingles

    is_a = F.substring("source", 4, 10).cast("int") < 10
    toks = (
        docs.select(is_a.alias("is_a"), F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select("is_a", F.explode(word_shingles("w", 3)).alias("tok"))
        .distinct()
    )
    hashed = track_persist(
        toks.groupBy(_tok_hash().alias("h")).agg(
            F.max(F.when(F.col("is_a"), 1).otherwise(0)).alias("in_a"),
            F.max(F.when(F.col("is_a"), 0).otherwise(1)).alias("in_b"),
        )
    )
    exact = hashed.agg(
        F.sum("in_a").cast("bigint").alias("n_a_exact"),
        F.sum("in_b").cast("bigint").alias("n_b_exact"),
        F.count("*").cast("bigint").alias("n_union_exact"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_inter_exact"),
    )

    def _kmv(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.orderBy("h")
            .limit(_KMV_K)
            .agg(
                F.max("h").alias(f"hk_{prefix}"),
                F.count("*").alias(f"n_kept_{prefix}"),
            )
        )

    ka = _kmv(hashed.filter(F.col("in_a") == 1).select("h"), "a")
    kb = _kmv(hashed.filter(F.col("in_b") == 1).select("h"), "b")
    ku = (
        hashed.orderBy("h")
        .limit(_KMV_K)
        .agg(
            F.max("h").alias("hk_u"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
            F.count("*").alias("n_kept_u"),
        )
    )

    def _est(hk: str, n_kept: str, n_exact: str):
        return (
            F.when(F.col(n_kept) < _KMV_K, F.col(n_exact))
            .otherwise(
                F.floor((_KMV_K - 1) * F.lit(_HASH_SPACE) / F.col(hk) + 0.5)
            )
            .cast("bigint")
        )

    row = exact.crossJoin(ka).crossJoin(kb).crossJoin(ku)
    return row.select(
        "n_a_exact",
        "n_b_exact",
        "n_union_exact",
        "n_inter_exact",
        _est("hk_a", "n_kept_a", "n_a_exact").alias("est_a"),
        _est("hk_b", "n_kept_b", "n_b_exact").alias("est_b"),
        _est("hk_u", "n_kept_u", "n_union_exact").alias("est_union"),
        "n_both",
    ).withColumn(
        "est_inter",
        F.floor(
            F.col("n_both") * F.col("est_union") * F.lit(1.0) / _KMV_K + 0.5
        ).cast("bigint"),
    ).select(
        "n_a_exact",
        "n_b_exact",
        "n_union_exact",
        "n_inter_exact",
        "est_a",
        "est_b",
        "est_union",
        "est_inter",
        stable_round(F.col("n_inter_exact") / F.col("n_union_exact"), 6).alias(
            "jaccard_exact"
        ),
        stable_round(F.col("n_both") / F.lit(float(_KMV_K)), 6).alias("jaccard_est"),
        stable_round(
            F.abs(F.col("est_union") - F.col("n_union_exact"))
            / F.col("n_union_exact"),
            6,
        ).alias("union_rel_err"),
    )


# ---------------------------------------------------------------------------
# HLL MERGE: per-source partial sketches -> register-max -> one estimate
# ---------------------------------------------------------------------------

# distinct (source, word-3-shingle) pairs — each source's own token set
_SQL_SOURCE_TOKS = """
  SELECT DISTINCT source,
         unnest(list_transform(range(1, len(w) - 1),
                i -> array_to_string(w[i:i+2], ' '))) AS tok
  FROM (SELECT source, string_split(lower(text), ' ') AS w FROM documents)
  WHERE len(w) >= 3
"""

_SQL_HLL_EST = (
    f"CAST(floor(CAST({_HLL_ALPHA!r} AS DOUBLE) * {_HLL_M} * {_HLL_M}"
    f" / (sum(power(2.0, -rho)) + ({_HLL_M} - count(*)) * 1.0) + 0.5)"
    " AS BIGINT)"
)

_HLL_MERGE_ORACLE = f"""
WITH toks AS ({_SQL_SOURCE_TOKS}),
hashed AS (
  SELECT DISTINCT source, {_SQL_TOK_HASH} AS h FROM toks
),
src_regs AS (
  SELECT source, h % {_HLL_M} AS reg, max({_SQL_RHO}) AS rho
  FROM hashed GROUP BY source, h % {_HLL_M}
),
merged_regs AS (
  SELECT reg, max(rho) AS rho FROM src_regs GROUP BY reg
),
direct_regs AS (
  SELECT h % {_HLL_M} AS reg, max({_SQL_RHO}) AS rho
  FROM (SELECT DISTINCT h FROM hashed) GROUP BY h % {_HLL_M}
),
merged AS (SELECT {_SQL_HLL_EST} AS n_est_merged FROM merged_regs),
direct AS (SELECT {_SQL_HLL_EST} AS n_est_direct FROM direct_regs),
exact AS (
  SELECT CAST(count(DISTINCT h) AS BIGINT) AS n_exact,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources
  FROM hashed
)
SELECT e.n_sources, e.n_exact, d.n_est_direct, m.n_est_merged,
       d.n_est_direct = m.n_est_merged AS merge_identical,
       floor(abs(m.n_est_merged - e.n_exact) * 1.0 / e.n_exact * 1e6 + 0.5) / 1e6
         AS rel_err
FROM exact e CROSS JOIN direct d CROSS JOIN merged m
"""


@query(
    "sketch_hll_merge",
    oracle=_HLL_MERGE_ORACLE,
    doc="HLL MERGEABILITY, proven in-query: each source builds its own "
    "1024-register sketch over its distinct shingle set (the partial "
    "aggregate a 100 TB scan keeps per partition/day/shard), the "
    "partials merge by element-wise register MAX, and the merged "
    "estimate is compared against the sketch built directly over the "
    "global distinct set. merge_identical is TRUE by the algebra "
    "(max of per-source maxima == global max per register) — the "
    "exact property that lets cardinality roll up across shards "
    "without ever re-reading data. Shape: one groupBy(source, reg) "
    "pass + a 1024-row register merge; the global exact count is the "
    "audit column. Bit-identical on both engines (binary-string rho, "
    "dyadic 2^-rho sums)",
    tags=("sketch", "dataset", "ext"),
)
def sketch_hll_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    from ..functions.shingles import word_shingles

    # one distinct pass over the 8-byte hashes (round-12 — see
    # _lang_shingle_hashes for the set-equality argument); the old
    # distinct-strings stage before it was a second full aggregation
    occ = (
        docs.select("source", F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select("source", F.explode(word_shingles("w", 3)).alias("tok"))
    )
    hashed = track_persist(occ.select("source", _tok_hash().alias("h")).distinct())

    def _hll_est(regs: DataFrame, out: str) -> DataFrame:
        return regs.agg(
            F.floor(
                F.lit(_HLL_ALPHA * _HLL_M * _HLL_M)
                / (
                    F.sum(F.pow(F.lit(2.0), -F.col("rho")))
                    + (F.lit(_HLL_M) - F.count("*")) * F.lit(1.0)
                )
                + 0.5
            )
            .cast("bigint")
            .alias(out)
        )

    src_regs = hashed.groupBy(
        "source", (F.col("h") % _HLL_M).alias("reg")
    ).agg(F.max(F.expr(_SPARK_RHO)).alias("rho"))
    merged_regs = src_regs.groupBy("reg").agg(F.max("rho").alias("rho"))
    direct_regs = (
        hashed.select("h")
        .distinct()
        .groupBy((F.col("h") % _HLL_M).alias("reg"))
        .agg(F.max(F.expr(_SPARK_RHO)).alias("rho"))
    )
    exact = hashed.agg(
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("h").cast("bigint").alias("n_exact"),
    )
    return (
        exact.crossJoin(_hll_est(direct_regs, "n_est_direct"))
        .crossJoin(_hll_est(merged_regs, "n_est_merged"))
        .select(
            "n_sources",
            "n_exact",
            "n_est_direct",
            "n_est_merged",
            (F.col("n_est_direct") == F.col("n_est_merged")).alias("merge_identical"),
            stable_round(
                F.abs(F.col("n_est_merged") - F.col("n_exact")) / F.col("n_exact"), 6
            ).alias("rel_err"),
        )
    )
