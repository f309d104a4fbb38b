"""Curation audits and reporting: the queries a data-curation team
runs ON the pipeline rather than in it — temperature-scaled mixture
design, per-rule filter ablation, embedding-truncation quality audits,
dataset cards, and dedup-threshold tuning curves. All pure DataFrame
queries with DuckDB oracles; every "random" quantity is hash- or
integer-derived so both engines agree bit-for-bit.

Determinism notes follow the engine conventions (see
dataset_ops.py header): fractions that could land on a rounding
boundary are summed on an exact integer grid BEFORE division, and any
sqrt/pow stays within IEEE correctly-rounded territory (sqrt, powers
of two) so Spark's JVM and DuckDB's libm produce identical bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round
from ..plans.two_phase import (
    global_cumsum,
    global_rank,
    one_partition_col,
    parquet_rows,
)
from ..registry import load, query
from .dataset_ops import (
    _BIGRAM_LM_ORACLE,
    _DSIR_ORACLE,
    _GOPHER_ORACLE,
    _GOPHER_ROUNDED_CTE,
    _GOPHER_RULE_SQL,
    _LM_ORACLE,
    _SHUF_ORACLE,
    _doc_token_arrays,
    dsir_importance_weights,
    gopher_rounded_frame,
    gopher_rule_exprs,
    shuffle_shard_assign,
    text_bigram_logprob,
    text_gopher_rules,
    text_unigram_logprob,
)
from .extensions import _NGRAM_JACCARD_ORACLE, dedup_ngram_jaccard

# ---------------------------------------------------------------------------
# temperature-scaled domain mixture (the UnifiedQA / mT5 sampling rule)
# ---------------------------------------------------------------------------

# T = 2 exactly so the temperature exponent 1/T is 0.5: sqrt is IEEE
# correctly rounded on both engines, unlike pow(x, 1/T) for general T.
_MIX_BUDGET = 100_000  # synthetic sampling budget (docs)

_TEMP_MIX_ORACLE = f"""
WITH stats AS (
  SELECT source, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_total
  FROM documents GROUP BY source
),
grid AS (
  -- sqrt(chars)^ (=chars^(1/T), T=2) quantized to an exact 1e6 grid so
  -- the normalizing sum is an associative BIGINT sum
  SELECT source, n_docs, n_chars_total,
         CAST(floor(sqrt(CAST(n_chars_total AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS q
  FROM stats
),
tot AS (SELECT CAST(sum(q) AS BIGINT) AS q_tot,
               CAST(sum(n_chars_total) AS BIGINT) AS total_chars,
               CAST(sum(n_docs) AS BIGINT) AS total_docs
        FROM grid)
SELECT g.source, g.n_docs, g.n_chars_total,
       floor((g.n_chars_total * 1.0 / t.total_chars) * 1e6 + 0.5) / 1e6 AS raw_share,
       floor((g.q * 1.0 / t.q_tot) * 1e6 + 0.5) / 1e6 AS temp_weight,
       CAST(floor(g.q * 1.0 / t.q_tot * {_MIX_BUDGET} + 0.5) AS BIGINT) AS sampled_docs,
       floor((g.q * 1.0 / t.q_tot * t.total_docs / g.n_docs) * 1e6 + 0.5) / 1e6 AS epochs
FROM grid g CROSS JOIN tot t
"""


@query(
    "mix_temperature_sampling",
    oracle=_TEMP_MIX_ORACLE,
    doc="Temperature-scaled domain sampling (the mT5/Gopher mixture "
    "rule, T=2): per-source char share raised to 1/T and renormalized, "
    "yielding the sampling weight, the doc budget each source gets, "
    "and the implied oversampling epochs. T=2 is chosen so the "
    "exponent is sqrt (IEEE correctly rounded -> bit-identical across "
    "engines), and the normalizer sums sqrt values on an exact 1e6 "
    "integer grid so summation order cannot move the result. Shape: "
    "one groupBy(source) + one broadcast 1-row total — nothing grows "
    "with corpus size beyond the first aggregate's map-side combine",
    tags=("dataset", "mixing", "ext"),
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    stats = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )
    grid = stats.withColumn(
        "q",
        F.floor(F.sqrt(F.col("n_chars_total").cast("double")) * F.lit(1e6) + F.lit(0.5))
        .cast("bigint"),
    )
    tot = grid.agg(
        F.sum("q").cast("bigint").alias("q_tot"),
        F.sum("n_chars_total").cast("bigint").alias("total_chars"),
        F.sum("n_docs").cast("bigint").alias("total_docs"),
    )
    w = F.col("q") * F.lit(1.0) / F.col("q_tot")
    return grid.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars_total",
        stable_round(F.col("n_chars_total") * F.lit(1.0) / F.col("total_chars"), 6).alias(
            "raw_share"
        ),
        stable_round(w, 6).alias("temp_weight"),
        F.floor(w * F.lit(_MIX_BUDGET) + F.lit(0.5)).cast("bigint").alias("sampled_docs"),
        stable_round(w * F.col("total_docs") / F.col("n_docs"), 6).alias("epochs"),
    )


# ---------------------------------------------------------------------------
# UniMax epoch-capped budget allocation (Chung et al., ICLR 2023)
# ---------------------------------------------------------------------------

# Integer-exact UniMax: budget and corpus sizes in chars (BIGINT), an
# INTEGER epoch cap, and floor division for the equal-share branch —
# the whole recurrence stays in BIGINT, so engines cannot diverge.
_UNIMAX_EPOCH_CAP = 2  # max epochs any source may be repeated
# synthetic char budget: half the corpus (forces both branches of the
# recurrence to bind on the test data — small sources cap out, large
# sources split the remainder)
_UNIMAX_ORACLE = f"""
WITH RECURSIVE stats AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS c
  FROM documents GROUP BY source
),
tot AS (
  SELECT CAST(sum(c) AS BIGINT) AS total_chars,
         CAST(count(*) AS BIGINT) AS n_src
  FROM stats
),
ordered AS (
  SELECT source, n_docs, c,
         row_number() OVER (ORDER BY c, source) AS rn
  FROM stats
),
alloc AS (
  SELECT CAST(0 AS BIGINT) AS rn, CAST(NULL AS VARCHAR) AS source,
         CAST(NULL AS BIGINT) AS n_docs, CAST(NULL AS BIGINT) AS c,
         CAST(NULL AS BIGINT) AS budget,
         (SELECT total_chars // 2 FROM tot) AS remaining,
         (SELECT n_src FROM tot) AS left_cnt
  UNION ALL
  SELECT o.rn, o.source, o.n_docs, o.c,
         least({_UNIMAX_EPOCH_CAP} * o.c, a.remaining // a.left_cnt),
         a.remaining
           - least({_UNIMAX_EPOCH_CAP} * o.c, a.remaining // a.left_cnt),
         a.left_cnt - 1
  FROM alloc a JOIN ordered o ON o.rn = a.rn + 1
)
SELECT a.source, a.n_docs, a.c AS n_chars_total,
       a.budget AS budget_chars,
       a.budget = {_UNIMAX_EPOCH_CAP} * a.c AS cap_bound,
       floor((a.budget * 1.0 / a.c) * 1e6 + 0.5) / 1e6 AS epochs,
       floor((a.budget * 1.0 / (t.total_chars // 2)) * 1e6 + 0.5) / 1e6
         AS budget_share
FROM alloc a CROSS JOIN tot t WHERE a.rn > 0
"""


@query(
    "mix_unimax_budgets",
    oracle=_UNIMAX_ORACLE,
    doc="UniMax budget allocation (Chung et al., ICLR 2023 — the mT5v2/"
    "uniform-with-epoch-cap successor to temperature sampling): "
    "sources sorted by corpus size ascending; each takes "
    "min(cap * its_chars, remaining_budget / remaining_sources) — "
    "small sources are fully used up to the repeat cap (never "
    "oversampled into memorization), the freed budget redistributes "
    "to larger sources toward uniform. The recurrence is inherently "
    "sequential in the SOURCE axis, which is bounded (languages/"
    "domains, not documents), so it runs driver-side over the "
    "collected per-source stats exactly like the k-means sample — the "
    "corpus-sized work is one map-side-combinable groupBy(source) "
    "scan. Integer-exact: char counts, an INTEGER epoch cap, and "
    "floor division keep the whole allocation in BIGINT (no "
    "transcendentals, unlike the temperature rule), so engines agree "
    "bit for bit; the oracle runs the same recurrence as a recursive "
    "CTE. Read next to mix_temperature_sampling: same inputs, the "
    "two published answers to 'how hard do we oversample the tail?'",
    tags=("dataset", "mixing", "ext"),
)
def mix_unimax_budgets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import track_persist

    docs = load(spark, sf_dir, "documents")
    stats = track_persist(
        docs.groupBy("source").agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("c"),
        )
    )
    # bounded collect: one row per SOURCE (the language/domain axis),
    # the same class as the k-means / PQ training samples
    rows = sorted(stats.collect(), key=lambda r: (int(r["c"]), r["source"]))
    total_chars = sum(int(r["c"]) for r in rows)
    budget = total_chars // 2
    remaining, left = budget, len(rows)
    alloc = []
    for r in rows:
        b = min(_UNIMAX_EPOCH_CAP * int(r["c"]), remaining // left)
        alloc.append((r["source"], b))
        remaining -= b
        left -= 1
    alloc_df = spark.createDataFrame(alloc, "source string, budget bigint")
    return stats.join(F.broadcast(alloc_df), "source").select(
        "source",
        "n_docs",
        F.col("c").alias("n_chars_total"),
        F.col("budget").alias("budget_chars"),
        (F.col("budget") == F.lit(_UNIMAX_EPOCH_CAP) * F.col("c")).alias(
            "cap_bound"
        ),
        stable_round(F.col("budget") * F.lit(1.0) / F.col("c"), 6).alias("epochs"),
        stable_round(F.col("budget") * F.lit(1.0) / F.lit(budget), 6).alias(
            "budget_share"
        ),
    )


@query(
    "mix_strategy_agreement",
    oracle=f"""
WITH t AS ({_TEMP_MIX_ORACLE}),
u AS ({_UNIMAX_ORACLE}),
b AS (SELECT CAST(sum(n_chars_total) AS BIGINT) // 2 AS budget FROM t),
te AS (
  SELECT t.source, t.n_docs, t.n_chars_total,
         floor((t.temp_weight * b.budget / t.n_chars_total) * 1e6 + 0.5) / 1e6
           AS temp_epochs
  FROM t CROSS JOIN b
)
SELECT te.source, te.n_docs, te.n_chars_total,
       te.temp_epochs, u.epochs AS unimax_epochs,
       floor((te.temp_epochs - u.epochs) * 1e6 + 0.5) / 1e6 AS epoch_gap,
       u.cap_bound,
       te.temp_epochs > u.epochs AS tail_protected
FROM te JOIN u ON u.source = te.source
""",
    doc="The before-you-switch report for the mixture rule (the "
    "curation_dsir_vs_rules pattern applied to sampling), compared "
    "UNDER THE SAME CHAR BUDGET so the gap measures the POLICIES and "
    "not their bookkeeping: temperature's epochs for a source are its "
    "renormalized weight times the shared budget over its corpus "
    "size, UniMax's are its capped allocation over the same size — "
    "their gap, and whether the source is tail-protected "
    "(temperature would repeat it MORE than the cap permits — "
    "exactly the memorization risk UniMax exists to remove). "
    "Composed from the two REGISTERED strategies so it audits "
    "precisely what users run; the oracle nests the two proven "
    "oracles (the recursive UniMax CTE inside a WITH scope, the "
    "sim_ivfpq_recall composition pattern). Cost: the parents' plans "
    "+ one join on the bounded source axis",
    tags=("dataset", "mixing", "audit", "ext"),
)
def mix_strategy_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = mix_temperature_sampling(spark, sf_dir).select(
        "source", "n_docs", "n_chars_total", "temp_weight"
    )
    # the SAME budget UniMax allocates (half the corpus chars), so the
    # two epoch columns are commensurable
    b = t.agg(
        F.expr("CAST(sum(n_chars_total) AS BIGINT) div 2").alias("budget")
    )
    te = t.crossJoin(F.broadcast(b)).select(
        "source",
        "n_docs",
        "n_chars_total",
        stable_round(
            F.col("temp_weight") * F.col("budget") / F.col("n_chars_total"), 6
        ).alias("temp_epochs"),
    )
    u = mix_unimax_budgets(spark, sf_dir).select(
        "source",
        F.col("epochs").alias("unimax_epochs"),
        "cap_bound",
    )
    return te.join(u, "source").select(
        "source",
        "n_docs",
        "n_chars_total",
        "temp_epochs",
        "unimax_epochs",
        stable_round(F.col("temp_epochs") - F.col("unimax_epochs"), 6).alias(
            "epoch_gap"
        ),
        "cap_bound",
        (F.col("temp_epochs") > F.col("unimax_epochs")).alias("tail_protected"),
    )


# ---------------------------------------------------------------------------
# per-rule filter ablation over the Gopher battery
# ---------------------------------------------------------------------------


def _attribution_oracle() -> str:
    """Composed from dataset_ops' shared rounded-stats CTE and rule
    predicates — the audit thresholds the SAME rounded values as
    text_gopher_rules by construction."""
    flag_cols = ", ".join(
        f"CAST({sql} AS INTEGER) AS r_{name}" for name, sql in _GOPHER_RULE_SQL.items()
    )
    nf = " + ".join(f"r_{name}" for name in _GOPHER_RULE_SQL)
    rows = "\nUNION ALL\n".join(
        f"SELECT '{name}' AS rule, CAST(n_{name} AS BIGINT) AS n_fail,"
        f" CAST(o_{name} AS BIGINT) AS n_fail_only,"
        f" floor((n_{name} * 1.0 / total) * 1e6 + 0.5) / 1e6 AS fail_frac,"
        f" floor((o_{name} * 1.0 / total) * 1e6 + 0.5) / 1e6 AS recoverable_frac"
        " FROM agg"
        for name in _GOPHER_RULE_SQL
    )
    sums = ", ".join(
        f"CAST(sum(r_{name}) AS BIGINT) AS n_{name},"
        f" CAST(sum(CASE WHEN r_{name} = 1 AND nf = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS o_{name}"
        for name in _GOPHER_RULE_SQL
    )
    return f"""
WITH {_GOPHER_ROUNDED_CTE},
flags AS (SELECT doc_id, {flag_cols} FROM rounded),
nf AS (SELECT *, {nf} AS nf FROM flags),
agg AS (SELECT count(*) AS total, {sums} FROM nf)
{rows}
"""


@query(
    "curation_rule_attribution",
    oracle=_attribution_oracle(),
    doc="Filter-ablation audit over the Gopher rule battery: per rule, "
    "how many docs fail it (n_fail), how many fail ONLY it "
    "(n_fail_only = docs recovered if the rule were dropped), and both "
    "as corpus fractions. This is the report a curation team reads "
    "before tuning thresholds — it separates rules that do real work "
    "from rules shadowed by others. Shape: the same one-pass rounded "
    "stats as text_gopher_rules, one global aggregate, then a 4-row "
    "unpivot — the corpus is scanned once regardless of rule count",
    tags=("dataset", "text", "audit", "ext"),
)
def curation_rule_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = gopher_rule_exprs()
    flags = gopher_rounded_frame(spark, sf_dir).select(
        "doc_id", *[r.cast("int").alias(f"r_{n}") for n, r in rules.items()]
    )
    nf = flags.withColumn(
        "nf", sum((F.col(f"r_{n}") for n in rules), F.lit(0))
    )
    agg = nf.agg(
        F.count("*").alias("total"),
        *[
            a
            for n in rules
            for a in (
                F.sum(f"r_{n}").cast("bigint").alias(f"n_{n}"),
                F.sum(
                    F.when((F.col(f"r_{n}") == 1) & (F.col("nf") == 1), 1).otherwise(0)
                )
                .cast("bigint")
                .alias(f"o_{n}"),
            )
        ],
    )
    per_rule = F.array(
        *[
            F.struct(
                F.lit(n).alias("rule"),
                F.col(f"n_{n}").alias("n_fail"),
                F.col(f"o_{n}").alias("n_fail_only"),
                stable_round(F.col(f"n_{n}") * F.lit(1.0) / F.col("total"), 6).alias(
                    "fail_frac"
                ),
                stable_round(F.col(f"o_{n}") * F.lit(1.0) / F.col("total"), 6).alias(
                    "recoverable_frac"
                ),
            )
            for n in rules
        ]
    )
    return agg.select(F.explode(per_rule).alias("r")).select("r.*")


# ---------------------------------------------------------------------------
# Matryoshka (truncated-dimension) retrieval audit
# ---------------------------------------------------------------------------

_MRL_DIMS = 16  # truncated prefix length (full = 64)
_MRL_STRIDE = 25  # stratum floor (1-in-K); grows with n so the audit stays linear
_MRL_TARGET_Q = 80  # target query count -> stride = max(floor, ceil(n / target))
_MRL_K = 3


def _mrl_dot_duck(n: int, a: str, b: str) -> str:
    return f"list_sum(list_transform(range(1, {n + 1}), i -> {a}[i] * {b}[i]))"


def _mrl_cos_duck(n: int) -> str:
    return (
        f"{_mrl_dot_duck(n, 'av', 'bv')}"
        f" / (sqrt({_mrl_dot_duck(n, 'av', 'av')})"
        f" * sqrt({_mrl_dot_duck(n, 'bv', 'bv')}))"
    )


_MRL_ORACLE = f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
params AS (
  -- ADAPTIVE query stride (same pattern as sim_maxsim_groups): the
  -- audit's query count stays ~constant as the corpus grows, so the
  -- stratum x full-candidate pair work is LINEAR in n
  SELECT greatest({_MRL_STRIDE},
                  ((SELECT count(*) FROM embeddings) + {_MRL_TARGET_Q - 1})
                  // {_MRL_TARGET_Q}) AS md
),
e AS (
  -- zero vectors (full OR truncated prefix) have no cosine direction;
  -- exclude them from BOTH roles so neither engine divides by zero
  SELECT vec_id, v FROM e0
  WHERE {_mrl_dot_duck(64, 'v', 'v')} > 0
    AND {_mrl_dot_duck(_MRL_DIMS, 'v', 'v')} > 0
),
p AS (
  SELECT q.vec_id AS qid, c.vec_id AS nid, q.v AS av, c.v AS bv
  FROM e q JOIN e c ON q.vec_id % (SELECT md FROM params) = 0 AND c.vec_id <> q.vec_id
),
s AS (
  SELECT qid, nid, {_mrl_cos_duck(64)} AS cs_f, {_mrl_cos_duck(_MRL_DIMS)} AS cs_t
  FROM p
),
rf AS (SELECT qid, nid,
              row_number() OVER (PARTITION BY qid ORDER BY cs_f DESC, nid) AS r
       FROM s),
rt AS (SELECT qid, nid,
              row_number() OVER (PARTITION BY qid ORDER BY cs_t DESC, nid) AS r
       FROM s),
ov AS (
  SELECT rf.qid, count(*) AS c
  FROM rf JOIN rt ON rt.qid = rf.qid AND rt.nid = rf.nid
  WHERE rf.r <= {_MRL_K} AND rt.r <= {_MRL_K}
  GROUP BY rf.qid
)
SELECT q.vec_id AS query_id, CAST(coalesce(ov.c, 0) AS BIGINT) AS n_overlap,
       floor((coalesce(ov.c, 0) / {_MRL_K}.0) * 1e6 + 0.5) / 1e6 AS recall_at_k
FROM (SELECT vec_id FROM e WHERE vec_id % (SELECT md FROM params) = 0) q
LEFT JOIN ov ON ov.qid = q.vec_id
"""

_MRL_DOT_SPARK = (
    "aggregate(zip_with(slice(av, 1, {n}), slice(bv, 1, {n}), (x, y) -> x * y),"
    " cast(0.0 as double), (acc, v) -> acc + v)"
)
_MRL_NORM_SPARK = (
    "sqrt(aggregate(transform(slice({c}, 1, {n}), x -> x * x),"
    " cast(0.0 as double), (acc, v) -> acc + v))"
)


@query(
    "emb_matryoshka_recall",
    oracle=_MRL_ORACLE,
    doc=f"Matryoshka-truncation audit (Kusupati et al. 2022): top-{_MRL_K} "
    f"cosine neighbors using only the first {_MRL_DIMS} of 64 dims vs "
    f"the full-dim ground truth, recall@{_MRL_K} per query over a "
    f"deterministic 1-in-{_MRL_STRIDE} query stratum. The report that "
    "decides whether a cheaper truncated index is safe to ship. Both "
    "cosines come from the same sequential fold family as the sim_* "
    "queries (bit-identical across engines); ties break on neighbor "
    "id. Shape: broadcast query stratum x one candidate scan, two "
    "windowed top-k on the same scored frame — O(n/stride * n) pairs "
    "by design (an audit stratum, not a production path; the "
    "production index is sim_ivf_topk/sim_lsh_bucketed)",
    tags=("similarity", "audit", "ext"),
)
def emb_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    sq = lambda c, n: F.expr(  # noqa: E731  sum of squares over prefix n
        f"aggregate(transform(slice({c}, 1, {n}), x -> x * x),"
        " cast(0.0 as double), (acc, v) -> acc + v)"
    )
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        # zero vectors (full OR truncated prefix) have no cosine
        # direction; exclude from both roles (mirrors the oracle)
        .filter((sq("v", 64) > 0) & (sq("v", _MRL_DIMS) > 0))
    )
    # adaptive stride (mirror of the oracle's params CTE): ~constant
    # query count however large the corpus -> linear audit cost
    md = load(spark, sf_dir, "embeddings").agg(
        F.greatest(
            F.lit(_MRL_STRIDE),
            F.expr(f"(count(*) + {_MRL_TARGET_Q - 1}) div {_MRL_TARGET_Q}"),
        ).alias("md")
    )
    q = (
        emb.crossJoin(F.broadcast(md))
        .filter(F.col("vec_id") % F.col("md") == 0)
        .select(F.col("vec_id").alias("qid"), F.col("v").alias("av"))
    )
    c = emb.repartition(spark.sparkContext.defaultParallelism, "vec_id").select(
        F.col("vec_id").alias("nid"), F.col("v").alias("bv")
    )
    pairs = F.broadcast(q).join(c, F.col("nid") != F.col("qid"))
    cos = lambda n: (  # noqa: E731
        F.expr(_MRL_DOT_SPARK.format(n=n))
        / (
            F.expr(_MRL_NORM_SPARK.format(c="av", n=n))
            * F.expr(_MRL_NORM_SPARK.format(c="bv", n=n))
        )
    )
    scored = pairs.select(
        "qid", "nid", cos(64).alias("cs_f"), cos(_MRL_DIMS).alias("cs_t")
    )
    wf = Window.partitionBy("qid").orderBy(F.desc("cs_f"), "nid")
    wt = Window.partitionBy("qid").orderBy(F.desc("cs_t"), "nid")
    ranked = scored.select(
        "qid",
        "nid",
        F.row_number().over(wf).alias("rf"),
        F.row_number().over(wt).alias("rt"),
    )
    ov = (
        ranked.filter((F.col("rf") <= _MRL_K) & (F.col("rt") <= _MRL_K))
        .groupBy("qid")
        .agg(F.count("*").alias("c"))
    )
    return (
        q.select(F.col("qid").alias("query_id"))
        .join(ov, F.col("query_id") == F.col("qid"), "left")
        .select(
            "query_id",
            F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_overlap"),
            stable_round(
                F.coalesce(F.col("c"), F.lit(0)) / F.lit(float(_MRL_K)), 6
            ).alias("recall_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# dataset card: per-source corpus summary
# ---------------------------------------------------------------------------

_CARD_ORACLE = """
WITH d AS (
  SELECT doc_id, source, lang, n_chars, md5(text) AS h FROM documents
),
hc AS (SELECT h, count(*) AS cnt FROM d GROUP BY h),
j AS (SELECT d.*, hc.cnt FROM d JOIN hc ON hc.h = d.h),
card AS (
  SELECT source,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
  FROM j GROUP BY source
),
tot AS (SELECT CAST(sum(total_chars) AS BIGINT) AS corpus_chars FROM card)
SELECT c.source, c.n_docs, c.total_chars, c.n_langs, c.n_dup_docs,
       floor((c.n_dup_docs * 1.0 / c.n_docs) * 1e6 + 0.5) / 1e6 AS dup_frac,
       floor((c.total_chars * 1.0 / c.n_docs) * 1e4 + 0.5) / 1e4 AS mean_chars,
       floor((c.total_chars * 1.0 / t.corpus_chars) * 1e6 + 0.5) / 1e6 AS char_share
FROM card c CROSS JOIN tot t
"""


@query(
    "dataset_card_stats",
    oracle=_CARD_ORACLE,
    doc="Dataset card (Datasheets-for-Datasets style): per source, doc "
    "and char counts, language breadth, exact-duplicate incidence "
    "(docs whose md5(text) appears more than once ANYWHERE in the "
    "corpus — cross-source dups count), mean doc length, and corpus "
    "char share. The one-page summary a data release ships with. "
    "Shape: one hash-groupBy over md5 (shuffles 16-byte hashes, never "
    "text), a hash join back, one groupBy(source), one broadcast "
    "1-row total — each stage map-side combinable at 100 TB",
    tags=("dataset", "audit", "ext"),
)
def dataset_card_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars", F.md5("text").alias("h")
    )
    hc = docs.groupBy("h").agg(F.count("*").alias("cnt"))
    j = docs.join(hc, "h")
    card = j.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum(F.when(F.col("cnt") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
    )
    tot = card.agg(F.sum("total_chars").cast("bigint").alias("corpus_chars"))
    return card.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_chars",
        "n_langs",
        "n_dup_docs",
        stable_round(F.col("n_dup_docs") * F.lit(1.0) / F.col("n_docs"), 6).alias(
            "dup_frac"
        ),
        stable_round(F.col("total_chars") * F.lit(1.0) / F.col("n_docs"), 4).alias(
            "mean_chars"
        ),
        stable_round(
            F.col("total_chars") * F.lit(1.0) / F.col("corpus_chars"), 6
        ).alias("char_share"),
    )


# ---------------------------------------------------------------------------
# dedup threshold tuning curve
# ---------------------------------------------------------------------------

_SWEEP_THRESHOLDS = (0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9)


def _sweep_oracle() -> str:
    """Composed from the registered n-gram Jaccard oracle: the curve is
    computed over the SAME edge definition users deduplicate with."""
    ts = ", ".join(str(t) for t in _SWEEP_THRESHOLDS)
    return f"""
WITH edges AS ({_NGRAM_JACCARD_ORACLE}),
ts AS (SELECT unnest(CAST([{ts}] AS DOUBLE[])) AS threshold),
hits AS (
  SELECT t.threshold, e.doc_a, e.doc_b
  FROM edges e JOIN ts t ON e.jaccard >= t.threshold
),
pairs AS (
  SELECT threshold, CAST(count(*) AS BIGINT) AS n_pairs
  FROM hits GROUP BY threshold
),
docs AS (
  SELECT threshold, CAST(count(DISTINCT d) AS BIGINT) AS n_docs
  FROM (SELECT threshold, doc_a AS d FROM hits
        UNION ALL SELECT threshold, doc_b AS d FROM hits)
  GROUP BY threshold
)
SELECT t.threshold,
       CAST(coalesce(p.n_pairs, 0) AS BIGINT) AS n_pairs,
       CAST(coalesce(d.n_docs, 0) AS BIGINT) AS n_docs_involved
FROM ts t
LEFT JOIN pairs p ON p.threshold = t.threshold
LEFT JOIN docs d ON d.threshold = t.threshold
"""


@query(
    "dedup_threshold_sweep",
    oracle=_sweep_oracle(),
    doc="Dedup-threshold tuning curve: for each candidate Jaccard "
    "threshold, how many near-dup pairs fire and how many distinct "
    "docs they touch — the curve a curation team reads to pick the "
    "dedup cutoff (too low removes real content, too high keeps "
    "dups). Computed over the registered dedup_ngram_jaccard edge "
    "definition, so the curve describes exactly what the dedup pass "
    "would do. Shape: the edge table (already linear via the shingle "
    "join) cross a broadcast 8-row threshold axis, two small "
    "aggregates — the sweep adds O(|edges| x 8), never a second "
    "corpus scan",
    tags=("dedup", "audit", "ext"),
)
def dedup_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import track_persist

    edges = track_persist(dedup_ngram_jaccard(spark, sf_dir))
    ts = spark.createDataFrame(
        [(t,) for t in _SWEEP_THRESHOLDS], "threshold double"
    )
    hits = edges.join(
        F.broadcast(ts), F.col("jaccard") >= F.col("threshold")
    ).select("threshold", "doc_a", "doc_b")
    # ONE aggregation pass (round-12, guide §2.4): over the endpoint
    # union, count(*)/2 IS the pair count exactly (every pair
    # contributes both endpoints, so the count is even by
    # construction), and the distinct-endpoint count rides in the same
    # groupBy — the old plan aggregated hits twice and joined the two
    # results back.
    u = hits.select("threshold", F.col("doc_a").alias("d")).unionAll(
        hits.select("threshold", F.col("doc_b").alias("d"))
    )
    both = u.groupBy("threshold").agg(
        F.expr("count(*) div 2").cast("bigint").alias("n_pairs"),
        F.countDistinct("d").cast("bigint").alias("n_docs_involved"),
    )
    return ts.join(both, "threshold", "left").select(
        "threshold",
        F.coalesce("n_pairs", F.lit(0)).cast("bigint").alias("n_pairs"),
        F.coalesce("n_docs_involved", F.lit(0))
        .cast("bigint")
        .alias("n_docs_involved"),
    )




# ---------------------------------------------------------------------------
# hash-feature linear quality classifier (fastText-style scoring shape)
# ---------------------------------------------------------------------------

_CLF_BUCKETS = 1024  # hashed feature space
_CLF_SQL_BUCKET = (
    "CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % " + str(_CLF_BUCKETS)
)
# per-bucket weight in integer "ppm" [-1000, 1000], derived from the
# bucket id by a second salted hash — a stand-in for trained weights
# with the exact distribution/serving shape of the real thing
_CLF_SQL_WEIGHT = (
    "CAST(('0x' || substr(md5('w' || CAST(bucket AS VARCHAR)), 1, 12)) AS BIGINT)"
    " % 2001 - 1000"
)

# shared CTE chain ending in per_doc(doc_id, n_tokens, margin_ppm) —
# composed by the classifier query and its two evaluation audits so all
# three oracles describe the one margin definition
_CLF_PER_DOC_SQL = f"""toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
feat AS (
  SELECT doc_id, {_CLF_SQL_BUCKET} AS bucket FROM toks WHERE tok <> ''
),
weighted AS (
  SELECT doc_id, bucket, {_CLF_SQL_WEIGHT} AS w_ppm FROM feat
),
per_doc AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(w_ppm) AS BIGINT) AS margin_ppm
  FROM weighted GROUP BY doc_id
)"""

_CLF_ORACLE = f"""
WITH {_CLF_PER_DOC_SQL}
SELECT doc_id, n_tokens,
       floor((margin_ppm * 1.0 / (1000.0 * n_tokens)) * 1e6 + 0.5) / 1e6 AS margin,
       margin_ppm > 0 AS keep
FROM per_doc
"""


@query(
    "text_classifier_score",
    oracle=_CLF_ORACLE,
    doc="Hash-feature linear quality classifier — the fastText/DCLM "
    "serving shape: tokens hash into a fixed "
    f"{_CLF_BUCKETS}-bucket feature space, each bucket carries an "
    "integer-ppm weight (here hash-derived; a trained model drops its "
    "weights into the same broadcast-table slot), per-doc margin = "
    "mean bucket weight, keep = margin > 0. The margin accumulates as "
    "an exact BIGINT ppm sum, so the verdict is partitioning-"
    "independent — the property a filter gating 100 TB must have. "
    "Shape: one explode + one doc-keyed aggregate, map-side "
    "combinable; weights never leave the expression (a real model "
    "would broadcast a 1024-row weight table into a hash join)",
    tags=("text", "dataset", "ext"),
)
def text_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_doc = _clf_margins(spark, sf_dir)
    return per_doc.select(
        "doc_id",
        "n_tokens",
        stable_round(
            F.col("margin_ppm") * F.lit(1.0) / (F.lit(1000.0) * F.col("n_tokens")), 6
        ).alias("margin"),
        (F.col("margin_ppm") > 0).alias("keep"),
    )


def _clf_margins(
    spark: SparkSession, sf_dir: str, t: DataFrame | None = None
) -> DataFrame:
    """per_doc(doc_id, n_tokens, margin_ppm) — the classifier's exact
    integer margins, shared by the scoring query and its eval audits.
    Pass ``t`` (the dataset_ops._doc_token_arrays frame) to reuse an
    already-materialized tokenization; standalone the expression is
    unchanged."""
    if t is not None:
        toks = t.select("doc_id", F.explode("toks").alias("tok")).filter(
            F.col("tok") != ""
        )
    else:
        docs = load(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        ).filter(F.col("tok") != "")
    bucket = (
        F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("bigint")
        % _CLF_BUCKETS
    )
    feat = toks.select("doc_id", bucket.alias("bucket"))
    w_ppm = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("w"), F.col("bucket").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 2001
        - 1000
    )
    return feat.withColumn("w_ppm", w_ppm).groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        F.sum("w_ppm").cast("bigint").alias("margin_ppm"),
    )


# ---------------------------------------------------------------------------
# classifier evaluation: tie-aware ROC AUC + decile lift/gains table
# ---------------------------------------------------------------------------

# deterministic pseudo gold label: a salted-hash coin per doc_id. The
# audits evaluate the MACHINERY (rank statistics, tie handling, gains
# accumulation); a real labelled eval set drops into the same join slot.
_LBL_SQL = (
    "CAST(('0x' || substr(md5('lbl' || CAST(doc_id AS VARCHAR)), 1, 12)) "
    "AS BIGINT) % 2 = 0"
)


def _lbl_col():
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("lbl"), F.col("doc_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0
    )


_AUC_ORACLE = f"""
WITH {_CLF_PER_DOC_SQL},
lab AS (SELECT margin_ppm, {_LBL_SQL} AS is_pos FROM per_doc),
bym AS (
  SELECT margin_ppm,
         CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pos,
         CAST(sum(CASE WHEN is_pos THEN 0 ELSE 1 END) AS BIGINT) AS neg
  FROM lab GROUP BY margin_ppm
),
cum AS (
  SELECT pos, neg,
         COALESCE(CAST(SUM(neg) OVER (ORDER BY margin_ppm
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
           0) AS cum_neg
  FROM bym
)
SELECT CAST(sum(pos) AS BIGINT) AS n_pos,
       CAST(sum(neg) AS BIGINT) AS n_neg,
       CAST(count(*) AS BIGINT) AS n_distinct_margins,
       floor((sum(2 * cum_neg * pos + pos * neg) * 1.0
              / (2.0 * sum(pos) * sum(neg))) * 1e6 + 0.5) / 1e6 AS auc
FROM cum
"""


@query(
    "classifier_auc_eval",
    oracle=_AUC_ORACLE,
    doc="Tie-aware ROC AUC of the quality classifier's margin against "
    "a hash-derived gold label — the Mann-Whitney rank form with exact "
    "tie correction (ties contribute 1/2), computed entirely in BIGINT "
    "pair counts so both engines agree bit-for-bit before the single "
    "final division. Shape: one groupBy(margin_ppm) collapses the "
    "corpus to distinct margins, then the exclusive running negative "
    "count via plans.two_phase.global_cumsum — margin_ppm is a per-doc "
    "sum of hash-feature weights, so distinct margins grow ~O(docs), "
    "NOT with a fixed score grid; a bare ORDER BY window here would "
    "serialize ~corpus-cardinality rows onto one task at 100 TB. The "
    "two-phase form range-buckets on margin and offsets bucket-local "
    "running sums with a broadcast prefix, identical totals. Eval-set "
    "labels drop into the is_pos slot via a join",
    tags=("text", "eval", "audit", "ext"),
)
def classifier_auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    lab = _clf_margins(spark, sf_dir).select(
        "margin_ppm", _lbl_col().alias("is_pos")
    )
    bym = lab.groupBy("margin_ppm").agg(
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
        F.sum(F.when(F.col("is_pos"), 0).otherwise(1)).cast("bigint").alias("neg"),
    )
    # Exclusive prefix = inclusive running sum minus the row's own neg;
    # distinct margins bound the frame above by #docs (parquet footers),
    # so below the crossover the helper's sized one-partition window
    # runs with zero extra actions and above it the bucketed two-phase
    # form takes over.
    cum = global_cumsum(
        bym,
        "margin_ppm",
        "neg",
        out_col="_cn_inc",
        n_upper=parquet_rows(sf_dir, "documents"),
    ).select(
        "pos",
        "neg",
        (F.col("_cn_inc") - F.col("neg")).cast("bigint").alias("cum_neg"),
    )
    numer2 = F.sum(
        F.lit(2) * F.col("cum_neg") * F.col("pos") + F.col("pos") * F.col("neg")
    )
    return cum.agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        F.sum("neg").cast("bigint").alias("n_neg"),
        F.count("*").cast("bigint").alias("n_distinct_margins"),
        stable_round(
            numer2 * F.lit(1.0) / (F.lit(2.0) * F.sum("pos") * F.sum("neg")), 6
        ).alias("auc"),
    )


_LIFT_ORACLE = f"""
WITH {_CLF_PER_DOC_SQL},
lab AS (
  SELECT doc_id, margin_ppm, n_tokens, {_LBL_SQL} AS is_pos FROM per_doc
),
binned AS (
  SELECT margin_ppm, is_pos,
         ntile(10) OVER (ORDER BY margin_ppm, doc_id) AS decile
  FROM lab
),
per_bin AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(margin_ppm) AS BIGINT) AS s_margin,
         CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM binned GROUP BY decile
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
               CAST(sum(pos) AS BIGINT) AS pos_total FROM per_bin)
SELECT p.decile, p.n_docs,
       floor((p.s_margin * 1.0 / (1000.0 * p.n_docs)) * 1e6 + 0.5) / 1e6
         AS mean_margin,
       floor((p.pos * 1.0 / p.n_docs) * 1e6 + 0.5) / 1e6 AS pos_rate,
       floor((p.pos * 1.0 * t.n_total / (p.n_docs * t.pos_total)) * 1e6 + 0.5)
         / 1e6 AS lift,
       floor((CAST(SUM(p.pos) OVER (ORDER BY p.decile DESC) AS BIGINT) * 1.0
              / t.pos_total) * 1e6 + 0.5) / 1e6 AS cum_pos_frac
FROM per_bin p CROSS JOIN tot t
"""


@query(
    "classifier_decile_lift",
    oracle=_LIFT_ORACLE,
    doc="Decile lift/gains table for the quality classifier: docs "
    "ranked by margin into ntile(10) bins (deterministic total order "
    "margin_ppm, doc_id), per bin the positive rate, lift vs the base "
    "rate, and top-down cumulative gain — the curve a curation team "
    "reads before picking a keep threshold. All numerators are exact "
    "BIGINT sums; divisions happen once at the end. Shape: NO global "
    "ntile window — the global row number comes from "
    "plans.two_phase.global_rank (range-bucketed on margin with "
    "broadcast count offsets above the crossover) and ntile(10) is "
    "recovered arithmetically from (rn, n): the first n%10 buckets "
    "take ceil(n/10) rows, the rest floor(n/10), exactly ntile's "
    "contract, with n a lazy broadcast 1-row count. Then one 10-key "
    "aggregate + a 10-row gains window (deliberately single-partition "
    "via one_partition_col)",
    tags=("text", "eval", "audit", "ext"),
)
def classifier_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import track_persist

    lab = track_persist(
        _clf_margins(spark, sf_dir).select(
            "doc_id", "margin_ppm", _lbl_col().alias("is_pos")
        )
    )
    # ntile needs the exact row count n; keep it lazy as a broadcast
    # 1-row frame (shares lab's cache with the rank pass) instead of a
    # driver action.
    ntot = lab.agg(F.count("*").cast("bigint").alias("_n"))
    ranked = global_rank(
        lab,
        "margin_ppm",
        ("doc_id",),
        out_col="_rn",
        n_upper=parquet_rows(sf_dir, "documents"),
    )
    # Exact ntile(10) from (rn, n): q = n div 10 and r = n % 10 — the
    # first r buckets take q+1 rows, the rest q, which is precisely
    # ntile's row-balanced contract (verified against the unchanged
    # ntile(10) oracle).
    binned = ranked.crossJoin(F.broadcast(ntot)).select(
        "margin_ppm",
        "is_pos",
        F.expr(
            "CAST(CASE WHEN _rn <= (_n % 10) * ((_n div 10) + 1)"
            " THEN (_rn + (_n div 10)) div ((_n div 10) + 1)"
            " ELSE (_n % 10) + ((_rn - (_n % 10) * ((_n div 10) + 1))"
            "      + (_n div 10) - 1) div (_n div 10)"
            " END AS INT)"
        ).alias("decile"),
    )
    per_bin = binned.groupBy("decile").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("margin_ppm").cast("bigint").alias("s_margin"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
    )
    tot = per_bin.agg(
        F.sum("n_docs").cast("bigint").alias("n_total"),
        F.sum("pos").cast("bigint").alias("pos_total"),
    )
    # 10 rows by construction: a deliberate single-partition window,
    # partitioned on the sized one_partition_col so the plan carries a
    # real partition spec (no WindowExec hazard warning).
    gains = Window.partitionBy("_gp").orderBy(F.col("decile").desc())
    return per_bin.crossJoin(F.broadcast(tot)).withColumn(
        "_gp", one_partition_col()
    ).select(
        "decile",
        "n_docs",
        stable_round(
            F.col("s_margin") * F.lit(1.0) / (F.lit(1000.0) * F.col("n_docs")), 6
        ).alias("mean_margin"),
        stable_round(F.col("pos") * F.lit(1.0) / F.col("n_docs"), 6).alias(
            "pos_rate"
        ),
        stable_round(
            F.col("pos") * F.lit(1.0) * F.col("n_total")
            / (F.col("n_docs") * F.col("pos_total")),
            6,
        ).alias("lift"),
        stable_round(
            F.sum("pos").over(gains).cast("bigint") * F.lit(1.0)
            / F.col("pos_total"),
            6,
        ).alias("cum_pos_frac"),
    )


# ---------------------------------------------------------------------------
# shard balance audit over the training-order shuffle
# ---------------------------------------------------------------------------


def _shard_balance_oracle() -> str:
    """Composed from the registered shuffle_shard_assign oracle: the
    audit describes exactly the sharding users write."""
    return f"""
WITH assign AS ({_SHUF_ORACLE}),
per_shard AS (
  SELECT a.shard, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(d.n_chars) AS BIGINT) AS total_chars
  FROM assign a JOIN documents d ON d.doc_id = a.doc_id
  GROUP BY a.shard
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS all_docs,
               CAST(sum(total_chars) AS BIGINT) AS all_chars,
               CAST(count(*) AS BIGINT) AS n_shards
        FROM per_shard)
SELECT p.shard, p.n_docs, p.total_chars,
       floor((p.n_docs * 1.0 * t.n_shards / t.all_docs) * 1e6 + 0.5) / 1e6
         AS docs_skew,
       floor((p.total_chars * 1.0 * t.n_shards / t.all_chars) * 1e6 + 0.5) / 1e6
         AS chars_skew
FROM per_shard p CROSS JOIN tot t
"""


@query(
    "shard_balance_audit",
    oracle=_shard_balance_oracle(),
    doc="Shard-balance audit over shuffle_shard_assign: per shard, doc "
    "and char totals plus skew ratios vs the uniform ideal (1.0 = "
    "perfectly balanced). Straggler shards are the classic silent "
    "tail-latency source in training jobs; this is the check that "
    "catches them before an epoch does. Shape: the assignment's "
    "doc_id-keyed join + one groupBy(shard) + a broadcast 1-row "
    "total — O(corpus) with map-side combine, output O(shards)",
    tags=("dataset", "audit", "ext"),
)
def shard_balance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = shuffle_shard_assign(spark, sf_dir).select("doc_id", "shard")
    docs = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    per_shard = assign.join(docs, "doc_id").groupBy("shard").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    tot = per_shard.agg(
        F.sum("n_docs").cast("bigint").alias("all_docs"),
        F.sum("total_chars").cast("bigint").alias("all_chars"),
        F.count("*").cast("bigint").alias("n_shards"),
    )
    return per_shard.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "total_chars",
        stable_round(
            F.col("n_docs") * F.lit(1.0) * F.col("n_shards") / F.col("all_docs"), 6
        ).alias("docs_skew"),
        stable_round(
            F.col("total_chars") * F.lit(1.0) * F.col("n_shards") / F.col("all_chars"),
            6,
        ).alias("chars_skew"),
    )


# ---------------------------------------------------------------------------
# embedding-norm outlier audit
# ---------------------------------------------------------------------------

_NORM_Z_THRESHOLD = 2.5

_NORM_OUTLIER_ORACLE = f"""
WITH e AS (
  SELECT vec_id,
         sqrt(list_sum(list_transform(range(1, 65),
              i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))))
           AS nrm
  FROM embeddings
),
g AS (SELECT vec_id, nrm,
             CAST(floor(nrm * 1e6 + 0.5) AS BIGINT) AS qn FROM e),
m AS (
  -- mean/std from exact BIGINT grid sums: associative, so any
  -- partitioning yields the same doubles downstream
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qn) AS BIGINT) AS s1,
         CAST(sum(qn * qn) AS BIGINT) AS s2
  FROM g
)
SELECT g.vec_id,
       floor(g.nrm * 1e6 + 0.5) / 1e6 AS norm,
       floor(coalesce(
         (g.qn - s1 * 1.0 / n)
         / NULLIF(sqrt(greatest(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n),
                                0.0)), 0.0), 0.0) * 1e4 + 0.5) / 1e4 AS z,
       coalesce(abs((g.qn - s1 * 1.0 / n)
         / NULLIF(sqrt(greatest(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n),
                                0.0)), 0.0)) > {_NORM_Z_THRESHOLD}, FALSE)
         AS is_outlier
FROM g CROSS JOIN m
"""


@query(
    "emb_norm_outliers",
    oracle=_NORM_OUTLIER_ORACLE,
    doc="Embedding-norm outlier audit: per-vector L2 norm z-scored "
    f"against the corpus distribution, |z| > {_NORM_Z_THRESHOLD} "
    "flagged — the standard embedding-QC pass that catches broken "
    "encoders, truncated rows and unnormalized batches before they "
    "poison retrieval. Exactness: norms quantize to a 1e6 integer "
    "grid and mean/variance come from BIGINT grid sums (associative "
    "-> partitioning-independent); a zero std (all-equal norms) "
    "yields z NULL -> not-outlier on both engines via NULLIF. Shape: "
    "one scan + one broadcast 1-row moment aggregate; at true 100 TB "
    "the qn^2 sum moves to DECIMAL(38) or per-partition Welford "
    "merge, noted here because BIGINT holds to ~10^5 TB-scale rows",
    tags=("similarity", "embedding", "audit", "ext"),
)
def emb_norm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.sqrt(
            F.expr(
                "aggregate(transform(cast(embedding as array<double>),"
                " x -> x * x), cast(0.0 as double), (acc, v) -> acc + v)"
            )
        ).alias("nrm"),
    )
    g = e.withColumn("qn", F.floor(F.col("nrm") * F.lit(1e6) + F.lit(0.5)).cast("bigint"))
    m = g.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("qn").cast("bigint").alias("s1"),
        F.sum(F.col("qn") * F.col("qn")).cast("bigint").alias("s2"),
    )
    mean = F.col("s1") * F.lit(1.0) / F.col("n")
    var = F.greatest(
        F.col("s2") * F.lit(1.0) / F.col("n") - mean * mean, F.lit(0.0)
    )
    z = F.try_divide(F.col("qn") - mean, F.nullif(F.sqrt(var), F.lit(0.0)))
    return g.crossJoin(F.broadcast(m)).select(
        "vec_id",
        stable_round("nrm", 6).alias("norm"),
        stable_round(F.coalesce(z, F.lit(0.0)), 4).alias("z"),
        F.coalesce(F.abs(z) > _NORM_Z_THRESHOLD, F.lit(False)).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# classifier calibration (round 7): reliability bins + ECE contributions
# ---------------------------------------------------------------------------

_CAL_BINS = 10  # fixed-width bins over the per-token-margin range

# round-half-away-from-zero integer division written with POSITIVE
# operands on each branch (Spark div truncates toward zero, DuckDB //
# floors — they agree only on positives); {a}/{b} are SQL fragments.
# mu = round(margin_ppm / n_tokens) is the canonical per-token margin
# (text_classifier_score's margin_ppm / (1000 * n_tokens)) on a 1e3
# milli-grid, so it lives in the binning domain [-1000, 1000]; an
# extra *1000 here once blew mu up 1000x and clamped 99% of docs into
# the edge bins (round-7 review finding).
_CAL_RDIV_DUCK = (
    "(CASE WHEN margin_ppm < 0 "
    "THEN -((-2 * margin_ppm + n_tokens) // (2 * n_tokens)) "
    "ELSE ((2 * margin_ppm + n_tokens) // (2 * n_tokens)) END)"
)
_CAL_RDIV_SPARK = (
    "(CASE WHEN margin_ppm < 0 "
    "THEN -((-2 * margin_ppm + n_tokens) div (2 * n_tokens)) "
    "ELSE ((2 * margin_ppm + n_tokens) div (2 * n_tokens)) END)"
)

_CALIBRATION_ORACLE = f"""
WITH {_CLF_PER_DOC_SQL},
mu AS (
  SELECT doc_id, {_CAL_RDIV_DUCK} AS mu, {_LBL_SQL} AS is_pos FROM per_doc
),
binned AS (
  SELECT greatest(0, least({_CAL_BINS - 1},
           CAST((mu + 1000) // {2000 // _CAL_BINS} AS BIGINT))) AS bin,
         mu, is_pos
  FROM mu
),
per_bin AS (
  SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(mu) AS BIGINT) AS s_mu,
         CAST(sum(CASE WHEN is_pos THEN 1 ELSE 0 END) AS BIGINT) AS pos
  FROM binned GROUP BY bin
),
tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM per_bin)
SELECT bin, n_docs, pos,
       floor(((s_mu * 1.0 / n_docs + 1000.0) / 2000.0) * 1e6 + 0.5) / 1e6
         AS mean_pred,
       floor((pos * 1.0 / n_docs) * 1e6 + 0.5) / 1e6 AS pos_rate,
       floor((abs(pos * 1.0 / n_docs
                  - (s_mu * 1.0 / n_docs + 1000.0) / 2000.0)
              * n_docs / (SELECT n_total FROM tot)) * 1e6 + 0.5) / 1e6
         AS ece_part
FROM per_bin
"""


@query(
    "classifier_calibration_bins",
    oracle=_CALIBRATION_ORACLE,
    doc="Reliability diagram for the quality classifier — the third "
    "leg of the eval triad (discrimination: classifier_auc_eval; "
    "ranking utility: classifier_decile_lift; THIS: calibration). "
    f"Per-token margins (exact half-away-from-zero BIGINT division, "
    f"positive-operand form) land in {_CAL_BINS} fixed-width bins; "
    "each bin reports mean linearly-squashed prediction vs empirical "
    "positive rate plus its weighted ECE contribution (sum of "
    "ece_part = expected calibration error — the number that decides "
    "whether the classifier's scores can be THRESHOLDED as "
    "probabilities for quota-based corpus filtering, FineWeb-Edu "
    "style, or need recalibration first). Shape: the shared per-doc "
    "margin aggregate, one bin groupBy (map-side combined, output "
    f"O({_CAL_BINS}) rows), a broadcast 1-row total — corpus-size-"
    "independent output; gold labels drop into the is_pos slot via a "
    "join exactly as in the AUC audit",
    tags=("text", "eval", "audit", "ext"),
)
def classifier_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    mu = _clf_margins(spark, sf_dir).select(
        F.expr(_CAL_RDIV_SPARK).alias("mu"), _lbl_col().alias("is_pos")
    )
    width = 2000 // _CAL_BINS
    binned = mu.select(
        F.greatest(
            F.lit(0),
            F.least(
                F.lit(_CAL_BINS - 1),
                F.expr(f"(mu + 1000) div {width}").cast("bigint"),
            ),
        ).alias("bin"),
        "mu",
        "is_pos",
    )
    per_bin = binned.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("mu").cast("bigint").alias("s_mu"),
        F.sum(F.when(F.col("is_pos"), 1).otherwise(0)).cast("bigint").alias("pos"),
    )
    tot = per_bin.agg(F.sum("n_docs").cast("bigint").alias("n_total"))
    pred = (F.col("s_mu") * F.lit(1.0) / F.col("n_docs") + F.lit(1000.0)) / F.lit(
        2000.0
    )
    rate = F.col("pos") * F.lit(1.0) / F.col("n_docs")
    return per_bin.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_docs",
        "pos",
        stable_round(pred, 6).alias("mean_pred"),
        stable_round(rate, 6).alias("pos_rate"),
        stable_round(
            F.abs(rate - pred) * F.col("n_docs") / F.col("n_total"), 6
        ).alias("ece_part"),
    )


# ---------------------------------------------------------------------------
# DSIR-vs-rules agreement audit (round 7)
# ---------------------------------------------------------------------------


@query(
    "curation_dsir_vs_rules",
    oracle=f"""
WITH d AS ({_DSIR_ORACLE}),
g AS ({_GOPHER_ORACLE}),
j AS (
  SELECT d.doc_id, d.keep AS dsir_keep, g.keep AS rules_keep
  FROM d JOIN g USING (doc_id)
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(*) FILTER (WHERE dsir_keep AND rules_keep) AS BIGINT)
           AS n_both_keep,
         CAST(count(*) FILTER (WHERE dsir_keep AND NOT rules_keep) AS BIGINT)
           AS n_dsir_only,
         CAST(count(*) FILTER (WHERE NOT dsir_keep AND rules_keep) AS BIGINT)
           AS n_rules_only,
         CAST(count(*) FILTER (WHERE NOT dsir_keep AND NOT rules_keep)
              AS BIGINT) AS n_both_drop
  FROM j
)
SELECT n_docs, n_both_keep, n_dsir_only, n_rules_only, n_both_drop,
       CAST(CASE WHEN n_docs = 0 THEN 0
            ELSE (2 * (n_both_keep + n_both_drop) * 1000000 + n_docs)
                 // (2 * n_docs) END AS BIGINT) AS agreement_ppm,
       CAST(CASE WHEN n_both_keep + n_dsir_only + n_rules_only = 0 THEN 0
            ELSE (2 * n_both_keep * 1000000
                  + (n_both_keep + n_dsir_only + n_rules_only))
                 // (2 * (n_both_keep + n_dsir_only + n_rules_only)) END
            AS BIGINT) AS keep_jaccard_ppm
FROM agg
""",
    doc="Selection-method agreement audit: the confusion matrix between "
    "DSIR's distribution-matched keep (dsir_importance_weights) and the "
    "Gopher hand-rule keep (text_gopher_rules) over the docs both score "
    "(DSIR skips <2-token docs by definition) — both-keep / dsir-only / "
    "rules-only / both-drop counts plus exact rounded-integer-ppm "
    "agreement and keep-set Jaccard. THE before-you-switch report: a "
    "team replacing hand rules with learned importance weights reads "
    "exactly this table to see what each method keeps that the other "
    "throws away. Composed over the two REGISTERED oracles so it audits "
    "precisely what users run. Shape: the parents' plans + one doc_id "
    "equi-join + a single global count — output is ONE row however "
    "large the corpus",
    tags=("curation", "audit", "ext"),
)
def curation_dsir_vs_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one tokenization DEFINITION feeds both scorers (round-12; NOT
    # persisted — see quality_ensemble_vote's note: caching the
    # array<string> frame measured slower than re-running the split)
    t = _doc_token_arrays(spark, sf_dir, with_source=True)
    d = dsir_importance_weights(spark, sf_dir, t=t).select(
        "doc_id", F.col("keep").alias("dsir_keep")
    )
    g = text_gopher_rules(spark, sf_dir, t=t.select("doc_id", "toks")).select(
        "doc_id", F.col("keep").alias("rules_keep")
    )
    j = d.join(g, "doc_id")
    agg = j.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("dsir_keep") & F.col("rules_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_both_keep"),
        F.sum(F.when(F.col("dsir_keep") & ~F.col("rules_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_dsir_only"),
        F.sum(F.when(~F.col("dsir_keep") & F.col("rules_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_rules_only"),
        F.sum(F.when(~F.col("dsir_keep") & ~F.col("rules_keep"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_both_drop"),
    )
    return agg.select(
        "n_docs",
        "n_both_keep",
        "n_dsir_only",
        "n_rules_only",
        "n_both_drop",
        F.expr(
            "CASE WHEN n_docs = 0 THEN 0 "
            "ELSE (2 * (n_both_keep + n_both_drop) * 1000000 + n_docs) "
            "div (2 * n_docs) END"
        )
        .cast("bigint")
        .alias("agreement_ppm"),
        F.expr(
            "CASE WHEN n_both_keep + n_dsir_only + n_rules_only = 0 THEN 0 "
            "ELSE (2 * n_both_keep * 1000000 "
            "+ (n_both_keep + n_dsir_only + n_rules_only)) "
            "div (2 * (n_both_keep + n_dsir_only + n_rules_only)) END"
        )
        .cast("bigint")
        .alias("keep_jaccard_ppm"),
    )


# ---------------------------------------------------------------------------
# quality-signal ensemble vote (round 7)
# ---------------------------------------------------------------------------


@query(
    "quality_ensemble_vote",
    oracle=f"""
WITH clf AS ({_CLF_ORACLE}),
gop AS ({_GOPHER_ORACLE}),
lm AS ({_LM_ORACLE}),
m AS (
  SELECT doc_id,
         CAST(floor(mean_neg_logprob * 1e6 + 0.5) AS BIGINT) AS m_fixed
  FROM lm
),
thr AS (
  SELECT CAST(sum(m_fixed) AS BIGINT) AS m_total,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM m
),
flu AS (
  SELECT doc_id, m_fixed * n_docs < m_total AS fluent_keep
  FROM m CROSS JOIN thr
),
j AS (
  SELECT clf.doc_id, clf.keep AS clf_keep, gop.keep AS rules_keep,
         flu.fluent_keep
  FROM clf
  JOIN gop ON gop.doc_id = clf.doc_id
  JOIN flu ON flu.doc_id = clf.doc_id
)
SELECT doc_id, clf_keep, rules_keep, fluent_keep,
       CAST(CAST(clf_keep AS INTEGER) + CAST(rules_keep AS INTEGER)
            + CAST(fluent_keep AS INTEGER) AS INTEGER) AS n_votes,
       CAST(clf_keep AS INTEGER) + CAST(rules_keep AS INTEGER)
         + CAST(fluent_keep AS INTEGER) >= 2 AS keep
FROM j
""",
    doc="Ensemble quality filtering (the FineWeb-Edu/DataComp pattern: "
    "no single signal is trusted alone): every doc collects three "
    "binary verdicts — the fasttext-style classifier's keep, Gopher "
    "rule-battery keep, and corpus-LM fluency (per-doc mean -log p "
    "strictly below the corpus mean, decided by the exact BIGINT "
    "multiply-compare on the 1e6 grid — the q11/DSIR mean-relative "
    "rule, no float mean, no global sort) — and survives on a "
    "majority (>= 2 of 3). Output carries the per-signal votes so the "
    "disagreement structure is auditable next to "
    "curation_dsir_vs_rules. Composed over three REGISTERED oracles. "
    "Shape: the parents' plans + two doc-keyed equi-joins + one 1-row "
    "broadcast threshold; rank-free by design — a global-rank RRF "
    "over docs would serialize the corpus into one window partition",
    tags=("curation", "text", "quality", "ext"),
)
def quality_ensemble_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one tokenization DEFINITION feeds all three voters (round-12 —
    # the mix_doremi_weights sharing pattern extended to this
    # composition; each parent's own expression over the bound array
    # is unchanged, so each voter's verdict is bit-identical and the
    # composed oracle re-verifies it). Deliberately NOT persisted:
    # caching the array<string> frame measured SLOWER than re-running
    # the codegen'd split per consumer (2.6 s to materialize + slower
    # cached scans vs a 0.6 MB parquet re-read).
    t = _doc_token_arrays(spark, sf_dir)
    clf = _clf_margins(spark, sf_dir, t=t).select(
        "doc_id", (F.col("margin_ppm") > 0).alias("clf_keep")
    )
    gop = text_gopher_rules(spark, sf_dir, t=t).select(
        "doc_id", F.col("keep").alias("rules_keep")
    )
    lm = text_unigram_logprob(spark, sf_dir, t=t).select(
        "doc_id",
        F.floor(F.col("mean_neg_logprob") * F.lit(1e6) + F.lit(0.5))
        .cast("bigint")
        .alias("m_fixed"),
    )
    from ..registry import track_persist

    lm = track_persist(lm)
    thr = lm.agg(
        F.sum("m_fixed").cast("bigint").alias("m_total"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    flu = lm.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        (F.col("m_fixed") * F.col("n_docs") < F.col("m_total")).alias(
            "fluent_keep"
        ),
    )
    j = clf.join(gop, "doc_id").join(flu, "doc_id")
    votes = (
        F.col("clf_keep").cast("int")
        + F.col("rules_keep").cast("int")
        + F.col("fluent_keep").cast("int")
    )
    return j.select(
        "doc_id",
        "clf_keep",
        "rules_keep",
        "fluent_keep",
        votes.cast("int").alias("n_votes"),
        (votes >= 2).alias("keep"),
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (round 8)
# ---------------------------------------------------------------------------


@query(
    "mix_doremi_weights",
    oracle=f"""
WITH uni AS ({_LM_ORACLE}),
big AS ({_BIGRAM_LM_ORACLE}),
per AS (
  SELECT d.source,
         CAST(floor(u.mean_neg_logprob * 1e4 + 0.5) AS BIGINT) AS u4,
         CAST(floor(b.mean_neg_logprob * 1e4 + 0.5) AS BIGINT) AS b4
  FROM documents d
  JOIN uni u ON u.doc_id = d.doc_id
  JOIN big b ON b.doc_id = d.doc_id
),
dom AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs_scored,
         CAST((CAST(sum(u4) AS HUGEINT) * 100) // CAST(count(*) AS HUGEINT)
           AS BIGINT) AS uni_nll_micro,
         CAST((CAST(sum(b4) AS HUGEINT) * 100) // CAST(count(*) AS HUGEINT)
           AS BIGINT) AS bi_nll_micro
  FROM per GROUP BY source
),
ex AS (
  SELECT source, n_docs_scored, uni_nll_micro, bi_nll_micro,
         greatest(CAST(0 AS BIGINT), uni_nll_micro - bi_nll_micro)
           AS excess_micro,
         1000000 + greatest(CAST(0 AS BIGINT), uni_nll_micro - bi_nll_micro)
           AS w_num
  FROM dom
),
tot AS (SELECT CAST(sum(w_num) AS BIGINT) AS w_tot FROM ex)
SELECT e.source, e.n_docs_scored, e.uni_nll_micro, e.bi_nll_micro,
       e.excess_micro,
       CAST((2 * e.w_num * 1000000 + t.w_tot) // (2 * t.w_tot) AS BIGINT)
         AS weight_ppm
FROM ex e CROSS JOIN tot t
""",
    doc="DoReMi-style domain reweighting (Xie et al. 2023): one "
    "multiplicative-weights step over per-source EXCESS LOSS — the gap "
    "between a weak reference LM's loss (corpus unigram, "
    "text_unigram_logprob) and a stronger proxy LM's loss (corpus "
    "bigram, text_bigram_logprob) — upweighting the domains where the "
    "stronger model gains most (the 'learnable' domains group-DRO "
    "chases). Determinism spine: exp(eta*excess) is linearized to "
    "(1 + excess) ON AN EXACT MICRO-BIT INTEGER GRID (the engine "
    "convention: transcendentals other than sqrt are not "
    "correctly-rounded across JVM/libm, so the update stays rational) "
    "— per-doc NLLs land on their registered 1e-4 grid, domain means "
    "use integer division, and the normalizing sum is an associative "
    "BIGINT sum, so both engines agree bit-for-bit. Docs with <2 "
    "tokens carry no bigram score and are excluded by both engines "
    "(the DSIR precedent). Scale shape: the two parents' plans + one "
    "doc_id equi-join + a 20-row domain aggregate + a 1-row broadcast "
    "total — nothing past the parents grows with corpus size",
    tags=("curation", "mixing", "ext"),
)
def mix_doremi_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..registry import track_persist
    # one tokenization DEFINITION feeds BOTH corpus LMs — unpersisted
    # (round-12): caching the array<string> frame measured slower than
    # re-running the codegen'd split per consumer (see
    # quality_ensemble_vote's note), and the parents no longer persist
    # their exploded streams either, so the cached-array scan would
    # now run once per explode
    t = _doc_token_arrays(spark, sf_dir)
    u = text_unigram_logprob(spark, sf_dir, t=t).select(
        "doc_id",
        F.floor(F.col("mean_neg_logprob") * 1e4 + 0.5).cast("bigint").alias("u4"),
    )
    b = text_bigram_logprob(spark, sf_dir, t=t).select(
        "doc_id",
        F.floor(F.col("mean_neg_logprob") * 1e4 + 0.5).cast("bigint").alias("b4"),
    )
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    per = docs.join(u, "doc_id").join(b, "doc_id")
    # per-doc grid sums in DECIMAL(38,0): sum(u4) * 100 would pass
    # int64 around ~1e12 docs per domain, where Spark's non-ANSI sum
    # wraps silently while DuckDB widens — the one way the two engines
    # could diverge here. The domain MEANS are small; only the sums
    # need headroom.
    dom = per.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs_scored"),
        F.sum(F.col("u4").cast("decimal(38,0)")).alias("su"),
        F.sum(F.col("b4").cast("decimal(38,0)")).alias("sb"),
    )
    ex = dom.select(
        "source",
        "n_docs_scored",
        F.expr("(su * 100) div n_docs_scored").cast("bigint").alias("uni_nll_micro"),
        F.expr("(sb * 100) div n_docs_scored").cast("bigint").alias("bi_nll_micro"),
    ).withColumn(
        "excess_micro",
        F.greatest(
            F.lit(0).cast("bigint"), F.col("uni_nll_micro") - F.col("bi_nll_micro")
        ),
    ).withColumn("w_num", (F.lit(1_000_000).cast("bigint") + F.col("excess_micro")))
    tot = ex.agg(F.sum("w_num").cast("bigint").alias("w_tot"))
    return ex.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs_scored",
        "uni_nll_micro",
        "bi_nll_micro",
        "excess_micro",
        F.expr("(2 * w_num * 1000000 + w_tot) div (2 * w_tot)")
        .cast("bigint")
        .alias("weight_ppm"),
    )


# ---------------------------------------------------------------------------
# Spearman rank agreement between two quality scores (round 8)
# ---------------------------------------------------------------------------


@query(
    "quality_rank_agreement",
    oracle=f"""
WITH {_CLF_PER_DOC_SQL},
clf AS (
  SELECT doc_id,
         (CAST(margin_ppm AS BIGINT) * 1000000) // n_tokens AS margin_scaled
  FROM per_doc
),
uni AS ({_LM_ORACLE}),
lm AS (
  SELECT doc_id,
         CAST(floor(mean_neg_logprob * 1e4 + 0.5) AS BIGINT) AS nll_fixed
  FROM uni
),
rc AS (
  SELECT doc_id, row_number() OVER (ORDER BY margin_scaled DESC, doc_id)
           AS r_clf
  FROM clf
),
rl AS (
  SELECT doc_id, row_number() OVER (ORDER BY nll_fixed ASC, doc_id) AS r_lm
  FROM lm
),
d AS (
  SELECT CAST(rc.r_clf AS BIGINT) - CAST(rl.r_lm AS BIGINT) AS d
  FROM rc JOIN rl ON rl.doc_id = rc.doc_id
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(d * d) AS HUGEINT) AS s2,
         CAST(sum(abs(d)) AS HUGEINT) AS sad,
         CAST(max(abs(d)) AS BIGINT) AS max_abs_rank_gap
  FROM d
),
agg2 AS (
  SELECT n_docs, sad, max_abs_rank_gap,
         s2 // GREATEST(n_docs, 1) AS a,
         s2 - (s2 // GREATEST(n_docs, 1)) * n_docs AS b,
         CAST(n_docs AS HUGEINT) * n_docs - 1 AS n2m1
  FROM agg
),
agg3 AS (
  SELECT n_docs, sad, max_abs_rank_gap, b,
         12000000 * a + n2m1 AS A, 2 * n2m1 AS M
  FROM agg2
),
agg4 AS (
  SELECT n_docs, sad, max_abs_rank_gap, b, M,
         A // GREATEST(M, 1) AS qA,
         A - (A // GREATEST(M, 1)) * M AS rA
  FROM agg3
)
SELECT n_docs,
       CAST(CASE WHEN n_docs < 2 THEN 1000000 ELSE
         1000000 - (qA + (rA * n_docs + 12000000 * b)
                    // GREATEST(M * n_docs, 1))
         END AS BIGINT) AS spearman_rho_ppm,
       CAST((2 * sad * 1000000 + n_docs) // (2 * n_docs) AS BIGINT)
         AS mean_abs_rank_gap_ppm,
       max_abs_rank_gap
FROM agg4
""",
    doc="Spearman rank agreement between two quality signals — the "
    "hash-feature classifier margin (text_classifier_score) and the "
    "unigram-LM fluency score (text_unigram_logprob) — the audit a "
    "team runs before substituting the cheap signal for the expensive "
    "one: binary confusion (curation_dsir_vs_rules) says how often the "
    "KEEP verdicts agree, this says whether the full ORDERINGS agree. "
    "Exact-integer end to end: both scores rank on integer grids "
    "(margin_ppm*1e6 div n_tokens; the registered 1e-4 NLL grid) with "
    "doc_id tiebreaks, d^2 sums in DECIMAL(38,0), and rho lands as a "
    "rounded integer ppm via a quotient-split of the (2a+b) div 2b "
    "idiom (s2 = a*n + b first, so every intermediate stays under "
    "2n^3 — exact to ~3e12 docs, where the naive 12e6*s2 product "
    "would overflow 38 digits near ~3e10) — no float ever enters, so "
    "both engines agree bit-for-bit. Scale shape: the two parents' plans + two global "
    "ranks (the adaptive two-phase bucket ranker — no single-partition "
    "sort above the crossover) + one doc_id equi-join + a 1-row "
    "aggregate. Single-doc corpora define rho = 1e6 (guarded on both "
    "engines; n(n^2-1) = 0)",
    tags=("curation", "audit", "quality", "ext"),
)
def quality_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.two_phase import global_rank
    from ..registry import track_persist
    # one tokenization DEFINITION feeds both scorers — unpersisted
    # (round-12, same note as quality_ensemble_vote)
    t = _doc_token_arrays(spark, sf_dir)
    clf = _clf_margins(spark, sf_dir, t=t).select(
        "doc_id",
        F.expr("(margin_ppm * 1000000) div n_tokens")
        .cast("bigint")
        .alias("margin_scaled"),
    )
    lm = text_unigram_logprob(spark, sf_dir, t=t).select(
        "doc_id",
        F.floor(F.col("mean_neg_logprob") * 1e4 + 0.5)
        .cast("bigint")
        .alias("nll_fixed"),
    )
    # rank 1 = best quality: highest margin / lowest NLL
    rc = global_rank(
        clf, "margin_scaled", ("doc_id",), descending=True, out_col="r_clf"
    ).select("doc_id", "r_clf")
    rl = global_rank(
        lm, "nll_fixed", ("doc_id",), descending=False, out_col="r_lm"
    ).select("doc_id", "r_lm")
    d = rc.join(rl, "doc_id").select(
        (F.col("r_clf").cast("long") - F.col("r_lm").cast("long")).alias("d")
    )
    agg = d.agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(38,0)")).alias("s2"),
        F.sum(F.abs("d").cast("decimal(38,0)")).alias("sad"),
        F.max(F.abs("d")).cast("bigint").alias("max_abs_rank_gap"),
    )
    # Quotient-split evaluation of 1e6 - round(6e6*s2 / (n(n^2-1))):
    # s2 = a*n + b keeps every intermediate under 2n^3 (the naive
    # 12e6*s2 form hits DECIMAL(38,0)'s ceiling near ~3e10 docs; the
    # split is exact to ~3e12 — identity property-tested). GREATEST
    # guards make the n<2 branch's dead intermediates NULL-free.
    agg2 = agg.select(
        "n_docs",
        "sad",
        "max_abs_rank_gap",
        F.expr("s2 div greatest(n_docs, 1)").alias("_a"),
        F.expr("s2 - (s2 div greatest(n_docs, 1)) * n_docs").alias("_b"),
        F.expr("CAST(n_docs AS DECIMAL(38,0)) * n_docs - 1").alias("_n2m1"),
    ).select(
        "n_docs",
        "sad",
        "max_abs_rank_gap",
        "_b",
        F.expr("12000000 * _a + _n2m1").alias("_A"),
        F.expr("2 * _n2m1").alias("_M"),
    ).select(
        "n_docs",
        "sad",
        "max_abs_rank_gap",
        "_b",
        "_M",
        F.expr("_A div greatest(_M, 1)").alias("_qA"),
        F.expr("_A - (_A div greatest(_M, 1)) * _M").alias("_rA"),
    )
    return agg2.select(
        "n_docs",
        F.expr(
            "CAST(CASE WHEN n_docs < 2 THEN 1000000 ELSE "
            "1000000 - (_qA + (_rA * n_docs + 12000000 * _b) "
            "DIV greatest(_M * n_docs, 1)) END AS BIGINT)"
        ).alias("spearman_rho_ppm"),
        F.expr("(2 * sad * 1000000 + n_docs) div (2 * n_docs)")
        .cast("bigint")
        .alias("mean_abs_rank_gap_ppm"),
        "max_abs_rank_gap",
    )


