"""Training-data pipeline operations beyond the reference surface
(SURVEY.md §7 phase 6): the curation ops a 100 TB pretraining corpus
needs between raw scrape and tokenizer — contamination checks,
deterministic sampling, domain mixture reweighting, corpus shape
diagnostics. All pure DataFrame queries with DuckDB oracles.

Determinism rule: anything "random" is hash-derived (md5 digits parsed
as bigint — bit-identical in Spark and DuckDB), never rand(); a sample
taken today reproduces byte-for-byte tomorrow, which is what a real
data pipeline wants for auditability anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import stable_round
from ..functions.shingles import word_shingles
from ..registry import load, query, track_persist
from .extensions import (
    _BRUTEFORCE_ORACLE,
    _COS_VC_DUCK,
    _IVF_NPROBE,
    _IVF_SAMPLE,
    _IVF_TOPK_ORACLE,
    _KEEP_CANONICAL_ORACLE,
    _NPROBE_AXIS,
    _QUALITY_ORACLE,
    _ivf_centroids,
    _ivf_disk_index_path,
    _ivf_kmeans_cte,
    _sweep_assemble,
    dedup_keep_canonical,
    sim_ivf_topk,
    sim_topk_bruteforce,
    text_quality_score,
)

# md5-derived deterministic uniform hash in [0, 2^48) — identical
# expression family as extensions.py's shingle ids.
def _md5_bigint(col):
    return F.conv(F.substring(F.md5(col.cast("string")), 1, 12), 16, 10).cast("bigint")


_SQL_MD5_BIGINT = "CAST(('0x' || substr(md5(CAST({c} AS VARCHAR)), 1, 12)) AS BIGINT)"


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

_CONTAM_K = 5  # word 5-grams: the usual contamination shingle size
_BENCH_DOCS = 25  # synthetic "benchmark": lowest doc_ids

_CONTAM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(w) - {_CONTAM_K - 2}),
                   i -> array_to_string(w[i:i+{_CONTAM_K - 1}], ' '))) AS shingle
    FROM toks WHERE len(w) >= {_CONTAM_K}
  )
),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_DOCS}),
hits AS (
  SELECT s.doc_id, count(*) AS n_hits
  FROM sh s JOIN bench b ON s.shingle = b.shingle
  WHERE s.doc_id >= {_BENCH_DOCS}
  GROUP BY s.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh WHERE doc_id >= {_BENCH_DOCS} GROUP BY doc_id)
SELECT z.doc_id, coalesce(h.n_hits, 0) AS n_hits,
       floor((coalesce(h.n_hits, 0) * 1.0 / z.n) * 1e6 + 0.5) / 1e6 AS overlap_frac,
       (coalesce(h.n_hits, 0) * 1.0 / z.n) > 0.1 AS contaminated
FROM sizes z LEFT JOIN hits h ON h.doc_id = z.doc_id
"""


@query(
    "contamination_ngram",
    oracle=_CONTAM_ORACLE,
    doc="Benchmark contamination check: fraction of each corpus doc's "
    "distinct word-5-grams that appear in any benchmark doc "
    "(here: lowest doc_ids stand in for the eval set). Shingle "
    "equi-join against the (small) benchmark shingle set — at 100 TB "
    "the benchmark side stays broadcast-sized (evals are ~1e6 n-grams) "
    "so the corpus is scanned exactly once, no shuffle of corpus text",
    tags=("dataset", "contamination", "ext"),
)
def contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _CONTAM_K
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    # zip_with over the materialized token array and its tails — no
    # per-doc window sort (same rewrite as extensions._doc_shingles).
    # Persisted: the shingle set fans into the benchmark side, the
    # corpus sizes, and the hit join — and unlike _doc_shingles (whose
    # consumers all sit under reused SHUFFLE exchanges), the benchmark
    # side here feeds a BROADCAST build, which cannot reuse a shuffle
    # exchange and would recompute the whole distinct on its own.
    # Round-13 A/B (same host, min-of-3): unpersisted measured 1.32 s
    # vs 1.00 s persisted (curation_pipeline 4.43 vs 3.84) — persist
    # kept.
    d = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w")).filter(
        F.size("w") >= k
    )
    sh = track_persist(
        d.select("doc_id", F.explode(word_shingles("w", k)).alias("shingle")).distinct()
    )
    bench = sh.filter(F.col("doc_id") < _BENCH_DOCS).select("shingle").distinct()
    corpus = sh.filter(F.col("doc_id") >= _BENCH_DOCS)
    sizes = corpus.groupBy("doc_id").agg(F.count("*").alias("n"))
    hits = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )
    frac = F.coalesce(F.col("n_hits"), F.lit(0)) / F.col("n")
    return (
        sizes.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            stable_round(frac, 6).alias("overlap_frac"),
            (frac > 0.1).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

_STRAT_K = 20

_STRAT_ORACLE = f"""
SELECT lang, doc_id, CAST(rn AS INTEGER) AS sample_rank FROM (
  SELECT lang, doc_id,
         row_number() OVER (PARTITION BY lang
                            ORDER BY {_SQL_MD5_BIGINT.format(c="doc_id")}, doc_id) AS rn
  FROM documents
) WHERE rn <= {_STRAT_K}
"""


@query(
    "sample_stratified",
    oracle=_STRAT_ORACLE,
    doc="Stratified sample: top-K docs per language by md5-hash order — "
    "equal representation per stratum regardless of stratum skew. "
    "Partitioned window (per-lang), so it scales; the hash order makes "
    "the sample deterministic AND uniform within each stratum",
    tags=("dataset", "sampling", "ext"),
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(_md5_bigint(F.col("doc_id")), "doc_id")
    return (
        docs.withColumn("sample_rank", F.row_number().over(w))
        .filter(F.col("sample_rank") <= _STRAT_K)
        .select("lang", "doc_id", F.col("sample_rank").cast("int"))
    )


_BERN_RATE_PCT = 30  # keep ~30%

_BERN_ORACLE = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {_SQL_MD5_BIGINT.format(c="doc_id")} % 100 < {_BERN_RATE_PCT}
"""


@query(
    "sample_bernoulli_hash",
    oracle=_BERN_ORACLE,
    doc="Hash-Bernoulli sample: keep doc iff md5(doc_id) mod 100 < rate. "
    "A pure filter — no window, no shuffle, pushdown-friendly — THE "
    "sampler shape for 100 TB scans (reproducible, mergeable across "
    "runs, and each executor decides locally)",
    tags=("dataset", "sampling", "ext"),
)
def sample_bernoulli_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.filter(_md5_bigint(F.col("doc_id")) % 100 < _BERN_RATE_PCT).select(
        "doc_id", "lang", "n_chars"
    )


# ---------------------------------------------------------------------------
# domain mixture reweighting
# ---------------------------------------------------------------------------

_MIX_ORACLE = """
WITH stats AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_total
  FROM documents GROUP BY lang
),
tot AS (SELECT CAST(sum(n_chars_total) AS BIGINT) AS total_chars,
               count(*) AS n_langs FROM stats)
SELECT s.lang, s.n_docs, s.n_chars_total,
       floor((s.n_chars_total * 1.0 / t.total_chars) * 1e6 + 0.5) / 1e6 AS actual_share,
       floor(((1.0 / t.n_langs) / (s.n_chars_total * 1.0 / t.total_chars)) * 1e6 + 0.5) / 1e6
         AS upsample_factor
FROM stats s CROSS JOIN tot t
"""


@query(
    "mix_domain_weights",
    oracle=_MIX_ORACLE,
    doc="Domain-mixture reweighting: per-language char share vs a "
    "uniform target -> upsample factor per language (the weights a "
    "data-mixing stage feeds into sampling). One aggregate + one "
    "broadcast of a 1-row total — nothing here grows with corpus size",
    tags=("dataset", "mixing", "ext"),
)
def mix_domain_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    stats = docs.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars_total")
    )
    tot = stats.agg(
        F.sum("n_chars_total").alias("total_chars"), F.count("*").alias("n_langs")
    )
    share = F.col("n_chars_total") / F.col("total_chars")
    return stats.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_docs",
        "n_chars_total",
        stable_round(share, 6).alias("actual_share"),
        stable_round((F.lit(1.0) / F.col("n_langs")) / share, 6).alias(
            "upsample_factor"
        ),
    )


# ---------------------------------------------------------------------------
# corpus shape diagnostics
# ---------------------------------------------------------------------------

_HIST_ORACLE = """
SELECT lang, CAST(floor(ln(n_chars) / ln(2)) AS BIGINT) AS log2_bucket,
       count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS n_chars_total
FROM documents GROUP BY 1, 2
"""


@query(
    "doc_length_histogram",
    oracle=_HIST_ORACLE,
    doc="Per-language log2 length histogram — the standard corpus-shape "
    "diagnostic before choosing packing lengths. Single scan, one "
    "aggregation; bucket count is bounded (~40) so the result is tiny "
    "at any corpus size",
    tags=("dataset", "diagnostics", "ext"),
)
def doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bucket = F.floor(F.log(2.0, F.col("n_chars").cast("double"))).cast("bigint")
    return docs.groupBy("lang", bucket.alias("log2_bucket")).agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars_total")
    )


# ---------------------------------------------------------------------------
# corpus-statistics quality scoring
# ---------------------------------------------------------------------------

_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok,
         generate_subscripts(string_split(lower(text), ' '), 1) AS pos
  FROM documents
),
vocab AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
tot AS (SELECT sum(cnt) AS n FROM vocab),
per_doc AS (
  SELECT t.doc_id,
         count(*) AS n_tokens,
         list_sum(list_transform(array_agg(v.cnt ORDER BY t.pos),
                                 c -> ln(c) / ln(2))) AS sum_log_cnt
  FROM toks t JOIN vocab v USING (tok)
  GROUP BY t.doc_id
)
SELECT d.doc_id, CAST(d.n_tokens AS BIGINT) AS n_tokens,
       floor(((d.n_tokens * (ln(tot.n) / ln(2)) - d.sum_log_cnt) / d.n_tokens)
             * 1e4 + 0.5) / 1e4 AS mean_neg_logprob
FROM per_doc d CROSS JOIN tot
"""


def _doc_token_arrays(
    spark: SparkSession, sf_dir: str, with_source: bool = False
) -> DataFrame:
    """(doc_id[, source], toks array) — the shared tokenization frame:
    one scan, one split, doc_id-partitioned. Compositions scoring a
    corpus with several token-level parents (mix_doremi_weights,
    quality_ensemble_vote, curation_dsir_vs_rules) persist this once
    and hand it to each parent, so the corpus is read and tokenized a
    single time. ``with_source`` additionally carries the source
    column (DSIR's target/raw split key)."""
    cols = ["doc_id"] + (["source"] if with_source else [])
    return load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    ).select(*cols, F.split(F.lower("text"), " ").alias("toks"))


@query(
    "text_unigram_logprob",
    oracle=_LM_ORACLE,
    doc="Corpus-LM quality score: mean per-token -log2 p(token) under "
    "the corpus's own unigram distribution — the classic "
    "perplexity-style filter. Two passes: vocabulary counts (one "
    "aggregation), then a broadcast vocab join + ORDERED sequential "
    "log fold per doc (position-sorted collect + aggregate()), so the "
    "double summation order is pinned identically on both engines. "
    "At 100 TB the vocab head (the only part that must broadcast) is "
    "capped by zipf — a few GB for any natural corpus",
    tags=("dataset", "text", "ext"),
)
def text_unigram_logprob(
    spark: SparkSession, sf_dir: str, t: DataFrame | None = None
) -> DataFrame:
    from ..registry import track_persist

    if t is None:
        t = _doc_token_arrays(spark, sf_dir)
    # NOT persisted (round-12, guide §5 "caching is only worth it
    # when recomputing is more expensive than the memory pressure"):
    # the explode is map-only, so "recomputing" it for the second
    # consumer is one extra codegen'd split pass over a small scan,
    # which measured FASTER than materializing the token stream into
    # the cache (A/B: 0.94 s vs 1.02 s warm, 1.4 s vs 4.3 s cold) —
    # and at 100 TB the exploded corpus does not fit memory anyway,
    # so the unpersisted form is also the honest scale posture.
    toks = t.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    vocab = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    total = vocab.agg(F.sum("cnt").alias("n"))
    ln2 = F.log(F.lit(2.0))
    # NO broadcast hint (round-13, ADVICE r12): the distinct-token
    # vocabulary grows with the corpus (Heaps' law on raw split
    # tokens), so an unconditional hint — which bypasses the size
    # threshold entirely — could OOM the driver at the 100 TB posture
    # instead of degrading to a shuffle join. The round-12 hint was
    # recorded as plan-neutral at bench scale (AQE/the 64 MB threshold
    # already pick broadcast here), so dropping it costs nothing
    # measured and restores the runtime size check as the decider.
    per_doc = (
        toks.join(vocab, "tok")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "cnt"))),
                    lambda s: s["cnt"],
                ),
                F.lit(0.0),
                lambda acc, c: acc + F.log(c.cast("double")) / ln2,
            ).alias("sum_log_cnt"),
        )
    )
    return per_doc.crossJoin(F.broadcast(total)).select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        stable_round(
            (F.col("n_tokens") * (F.log(F.col("n").cast("double")) / ln2)
             - F.col("sum_log_cnt"))
            / F.col("n_tokens"),
            4,
        ).alias("mean_neg_logprob"),
    )


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------

_PQ_M = 4  # subspaces (16 dims each over the 64-dim embeddings)
_PQ_K = 8  # codewords per subspace
_PQ_ITERS = 2
_PQ_SAMPLE = 256  # driver-collected training sample bound

_PQ_L2 = (
    "list_sum(list_transform(range(1, 17), i -> (sv[i] - cv[i]) * (sv[i] - cv[i])))"
)


def _pq_kmeans_cte() -> str:
    """DuckDB CTE chain mirroring the driver-side per-subspace k-means:
    init = first K vectors' subvectors, then L2 Lloyd rounds with
    1e-6-rounded means (same cross-engine-parity trick as the IVF
    oracle: a ~1e-16 ulp difference cannot move a mean across a 1e-6
    grid except with negligible probability)."""
    parts = [
        f"samp AS (SELECT vec_id, v FROM e WHERE vec_id < {_PQ_SAMPLE}),",
        f"ms AS (SELECT unnest(range(0, {_PQ_M})) AS m),",
        "dims AS (SELECT unnest(generate_series(1, 16)) AS dim),",
        "subv AS (SELECT vec_id, m, list_transform(range(1, 17), i -> v[m*16 + i]) AS sv"
        "  FROM samp CROSS JOIN ms),",
        f"c0 AS (SELECT m, vec_id AS code_id, sv AS cv FROM subv WHERE vec_id < {_PQ_K}),",
    ]
    for it in range(1, _PQ_ITERS + 1):
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, m, code_id, sv FROM (
    SELECT s.vec_id, s.m, c.code_id, s.sv,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_PQ_L2} ASC, c.code_id) AS rn
    FROM subv s JOIN c{it - 1} c ON c.m = s.m
  ) WHERE rn = 1
),
c{it} AS (
  SELECT m, code_id, list(xa ORDER BY dim) AS cv FROM (
    SELECT m, code_id, dim, floor(avg(sv[dim]) * 1e6 + 0.5) / 1e6 AS xa
    FROM a{it} CROSS JOIN dims GROUP BY m, code_id, dim
  ) GROUP BY m, code_id
),"""
        )
    parts.append(f"cb AS (SELECT m, code_id, cv FROM c{_PQ_ITERS}),")
    return "\n".join(parts)


_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_pq_kmeans_cte()}
allsub AS (
  SELECT vec_id, m, list_transform(range(1, 17), i -> v[m*16 + i]) AS sv
  FROM e CROSS JOIN ms
),
codes AS (
  SELECT vec_id, m, code_id, d2 FROM (
    SELECT s.vec_id, s.m, c.code_id, {_PQ_L2} AS d2,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {_PQ_L2} ASC, c.code_id) AS rn
    FROM allsub s JOIN cb c ON c.m = s.m
  ) WHERE rn = 1
)
SELECT vec_id,
       CAST(max(CASE WHEN m = 0 THEN code_id END) AS BIGINT) AS code0,
       CAST(max(CASE WHEN m = 1 THEN code_id END) AS BIGINT) AS code1,
       CAST(max(CASE WHEN m = 2 THEN code_id END) AS BIGINT) AS code2,
       CAST(max(CASE WHEN m = 3 THEN code_id END) AS BIGINT) AS code3,
       floor((max(CASE WHEN m = 0 THEN d2 END)
            + max(CASE WHEN m = 1 THEN d2 END)
            + max(CASE WHEN m = 2 THEN d2 END)
            + max(CASE WHEN m = 3 THEN d2 END)) * 1e6 + 0.5) / 1e6 AS recon_err
FROM codes GROUP BY vec_id
"""


def _pq_codebooks(emb):
    """Driver-side per-subspace Lloyd (exact mirror of _pq_kmeans_cte):
    the training sample is bounded, so local iteration beats a chain of
    tiny Spark stages; only the full-table ASSIGN phase is distributed
    (against the broadcast codebooks) — the honest PQ shape at 100 TB."""
    return _pq_codebooks_param(emb, _PQ_M, 16)


def _pq_sample_rows(emb) -> list[tuple[int, list[float]]]:
    """ONE bounded driver collect of the PQ training sample, shared by
    every codebook the caller trains from it (sim_pq_bits_sweep trains
    three splits from the same sample — round-12 optimization: one
    scan+collect job instead of one per arm, guide §1.2/§5)."""
    rows = emb.filter(F.col("vec_id") < _PQ_SAMPLE).select("vec_id", "v").collect()
    rows.sort(key=lambda r: r.vec_id)
    return [(int(r.vec_id), [float(x) for x in r.v]) for r in rows]


def _pq_codebooks_param(emb, n_sub: int, subdim: int):
    """:func:`_pq_codebooks` generalized to any (n_sub, subdim) split
    of the embedding — the compression axis sim_pq_bits_sweep walks.
    Identical arithmetic (iteration order, tie-breaks, 1e-6 mean
    rounding) at every split; the fixed-_PQ_M caller delegates here so
    the two cannot drift."""
    return _pq_train_books(_pq_sample_rows(emb), n_sub, subdim)


def _pq_train_books(
    samp: list[tuple[int, list[float]]], n_sub: int, subdim: int
):
    """Pure-local per-subspace Lloyd over an already-collected sample
    (the driver-side training loop factored out of
    :func:`_pq_codebooks_param` so multi-split sweeps collect once)."""
    import math

    books = {}
    for m in range(n_sub):
        sub = [(vid, v[m * subdim : m * subdim + subdim]) for vid, v in samp]
        cb = {vid: sv for vid, sv in sub if vid < _PQ_K}
        for _ in range(_PQ_ITERS):
            members = {}
            for vid, sv in sub:
                best, best_d = -1, None
                for cid in sorted(cb):
                    cv = cb[cid]
                    d = 0.0
                    for x, y in zip(sv, cv):
                        d += (x - y) * (x - y)
                    if best_d is None or d < best_d:
                        best, best_d = cid, d
                members.setdefault(best, []).append(sv)
            cb = {}
            for cid, vs in members.items():
                cb[cid] = [
                    math.floor(sum(v[d] for v in vs) / len(vs) * 1e6 + 0.5) / 1e6
                    for d in range(subdim)
                ]
        books[m] = cb
    return [
        (m, cid, books[m][cid]) for m in sorted(books) for cid in sorted(books[m])
    ]


def _pq_cb(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """Train-once codebook frame (m, code_id, cv) — one bounded driver
    collect + local Lloyd; callers broadcast it."""
    return spark.createDataFrame(
        _pq_codebooks(emb), "m int, code_id bigint, cv array<double>"
    )


def _pq_assign_long(
    spark: SparkSession, emb: DataFrame, cb: DataFrame | None = None
) -> DataFrame:
    """Assign phase shared by emb_pq_codes and sim_pq_topk: every
    vector x subspace -> nearest codeword, long form
    (vec_id, m, code_id, d2). Codebooks are driver-trained on the
    bounded sample and broadcast; the scan is the only big side."""
    if cb is None:
        cb = _pq_cb(spark, emb)
    return _pq_assign_long_param(spark, emb, cb, _PQ_M, 16)


def _pq_assign_long_param(
    spark: SparkSession,
    emb: DataFrame,
    cb: DataFrame,
    n_sub: int,
    subdim: int,
) -> DataFrame:
    """:func:`_pq_assign_long` generalized to any (n_sub, subdim)
    split — identical expression text at the default split, so the
    delegating caller's plans are unchanged."""
    ms = spark.range(n_sub).select(F.col("id").cast("int").alias("m"))
    subv = emb.crossJoin(F.broadcast(ms)).select(
        "vec_id",
        "m",
        F.expr(
            f"transform(sequence(1, {subdim}), "
            f"i -> element_at(v, int(m*{subdim} + i)))"
        ).alias("sv"),
    )
    d2 = F.expr(
        "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), "
        "cast(0.0 as double), (acc, x) -> acc + x)"
    )
    return (
        subv.join(F.broadcast(cb), "m")
        .withColumn("_d2", d2)
        .groupBy("vec_id", "m")
        .agg(F.min(F.struct(F.col("_d2"), F.col("code_id"))).alias("_b"))
        .select("vec_id", "m", F.col("_b._d2").alias("d2"), F.col("_b.code_id").alias("code_id"))
    )


def _pq_pick(m: int, col: str):
    return F.max(F.when(F.col("m") == m, F.col(col)))


def _pq_wide_codes(long_codes: DataFrame) -> DataFrame:
    """Long (vec_id, m, code_id) -> wide (vec_id, code0..code3) pivot
    shared by emb_pq_codes and sim_pq_topk."""
    return long_codes.groupBy("vec_id").agg(
        *[_pq_pick(m, "code_id").alias(f"code{m}") for m in range(_PQ_M)]
    )


# --- expression-form PQ assign/LUT (round-12 optimization) -----------------
#
# The codebooks are DRIVER-LOCAL by construction (bounded-sample Lloyd
# on the driver), so the assign phase does not need the broadcast-join
# + two keyed aggregations the long-form pivot paid: embedding each
# codeword as a LITERAL array turns assignment into a pure projection —
# zero exchanges over the n x m code stream (guide §2.4 "remove
# shuffles outright"; at 100 TB this is the FAISS add() shape: a
# map-only encode pass). The per-element arithmetic is the EXACT
# expression the join form evaluated — same zip_with/aggregate fold,
# same doubles (F.lit round-trips the Python float the codebook rows
# held), same (d2, code_id) lexicographic tie-break (array_min of
# structs == min(struct(d2, code_id)) aggregate) — so codes, d2s, ADC
# ranks and every downstream rounded column are bit-identical; the
# registered oracles re-verify that.


# Plan-size guard (round-13, VERDICT r12 ask #7): the literal form
# embeds every codeword double into the expression tree. At the
# declared sizes (4 subspaces x 8 codewords x 16 dims = 512 doubles)
# that is a small SQL string, but the same helpers at production PQ
# sizes (m=64, k=256) would embed megabytes of literals per plan and
# blow up Catalyst analysis time. Above this bound the helpers fall
# back to the retained join form (broadcast codebook frame + keyed
# aggregations) — bit-identical results (it IS the pre-round-12
# implementation both oracles held against), just not a pure
# projection. 32768 doubles ~ 0.7 MB of SQL: 64x today's size, still
# comfortably inside Catalyst's parser/analyzer envelope.
_PQ_LIT_MAX_DOUBLES = 32_768


def _pq_lit_fits(books, subdim: int) -> bool:
    return len(books) * subdim <= _PQ_LIT_MAX_DOUBLES


def _pq_books_frame(spark: SparkSession, books) -> DataFrame:
    return spark.createDataFrame(
        [(int(m), int(c), [float(x) for x in cv]) for m, c, cv in books],
        "m int, code_id bigint, cv array<double>",
    )


def _pq_books_by_m(books) -> dict[int, list[tuple[int, list[float]]]]:
    """(m, code_id, cv) rows -> {m: [(code_id, cv), ...] sorted by
    code_id} — the layout the expression builders index."""
    by_m: dict[int, list[tuple[int, list[float]]]] = {}
    for m, cid, cv in books:
        by_m.setdefault(int(m), []).append((int(cid), [float(x) for x in cv]))
    for m in by_m:
        by_m[m].sort()
    return by_m


def _dlit(x: float) -> str:
    """Exact double literal for Spark SQL: Python repr round-trips the
    IEEE-754 value and Java's parser is correctly-rounding, so the JVM
    sees the identical double the codebook row held; the D suffix
    keeps the parser off the DECIMAL default."""
    return f"{float(x)!r}D"


def _pq_sub_d2_sql(m: int, subdim: int, cv: list[float]) -> str:
    """L2^2 of subvector m of ``v`` against a LITERAL codeword: the
    same transform/zip_with/aggregate fold as the join-form d2, cv as
    an array literal. Built as ONE SQL string — a Column-API build of
    these trees costs thousands of py4j round-trips (measured: +2.4 s
    of driver time on sim_pq_topk alone), the parser does it in one."""
    arr = ", ".join(_dlit(x) for x in cv)
    return (
        f"aggregate(zip_with(transform(sequence(1, {subdim}), "
        f"i -> element_at(v, int({m * subdim} + i))), array({arr}), "
        "(x, y) -> (x - y) * (x - y)), cast(0.0 as double), "
        "(acc, x) -> acc + x)"
    )


def _pq_best_sql(m: int, subdim: int, book_m: list[tuple[int, list[float]]]) -> str:
    """struct(d2, code_id) of the winning codeword for subspace m —
    array_min over the per-codeword structs reproduces the join form's
    min(struct(_d2, code_id)) tie-break exactly."""
    entries = ", ".join(
        f"named_struct('d2', {_pq_sub_d2_sql(m, subdim, cv)}, "
        f"'code_id', CAST({int(cid)} AS BIGINT))"
        for cid, cv in book_m
    )
    return f"array_min(array({entries}))"


def _pq_wide_books(
    emb: DataFrame, books, n_sub: int, subdim: int
) -> DataFrame:
    """(vec_id, v) -> (vec_id, code0.., d2_0..): the map-only PQ
    encode pass (no join, no aggregation). Two selects so each
    subspace's array_min evaluates ONCE; CollapseProject keeps them
    separate because the struct is referenced twice.

    Above the literal plan-size bound the encode falls back to the
    retained join form (broadcast codebook + min-struct aggregation +
    pivot) — identical rows, see _PQ_LIT_MAX_DOUBLES."""
    if not _pq_lit_fits(books, subdim):
        spark = emb.sparkSession
        long = _pq_assign_long_param(
            spark, emb, _pq_books_frame(spark, books), n_sub, subdim
        )
        return long.groupBy("vec_id").agg(
            *[_pq_pick(m, "code_id").alias(f"code{m}") for m in range(n_sub)],
            *[_pq_pick(m, "d2").alias(f"d2_{m}") for m in range(n_sub)],
        )
    by_m = _pq_books_by_m(books)
    best = emb.select(
        "vec_id",
        *[
            F.expr(_pq_best_sql(m, subdim, by_m[m])).alias(f"_b{m}")
            for m in range(n_sub)
        ],
    )
    return best.select(
        "vec_id",
        *[F.col(f"_b{m}.code_id").alias(f"code{m}") for m in range(n_sub)],
        *[F.col(f"_b{m}.d2").alias(f"d2_{m}") for m in range(n_sub)],
    )


def _pq_luts_lit(q: DataFrame, books, n_sub: int, subdim: int) -> DataFrame:
    """(query_id, v) -> (query_id, luts) with luts[m][i] = d2 of the
    query's m-th subvector against the i-th-smallest code_id's
    codeword — the nested-array layout sim_pq_topk's ADC lookups
    index, built as one projection instead of crossJoin + two
    collect_list aggregations.

    Above the literal plan-size bound the LUT build falls back to
    exactly that retained crossJoin + sorted-collect form — the
    identical fold arithmetic over a broadcast codebook frame, the
    identical (m asc, code_id asc) layout — see _PQ_LIT_MAX_DOUBLES."""
    if not _pq_lit_fits(books, subdim):
        spark = q.sparkSession
        cb = _pq_books_frame(spark, books)
        per = q.crossJoin(F.broadcast(cb)).select(
            "query_id",
            "m",
            "code_id",
            F.expr(
                f"aggregate(zip_with(transform(sequence(1, {subdim}), "
                f"i -> element_at(v, int(m*{subdim} + i))), cv, "
                "(x, y) -> (x - y) * (x - y)), cast(0.0 as double), "
                "(acc, x) -> acc + x)"
            ).alias("d2"),
        )
        bym = (
            per.groupBy("query_id", "m")
            .agg(F.array_sort(F.collect_list(F.struct("code_id", "d2"))).alias("cs"))
            .select(
                "query_id", "m", F.expr("transform(cs, s -> s.d2)").alias("lm")
            )
        )
        return (
            bym.groupBy("query_id")
            .agg(F.array_sort(F.collect_list(F.struct("m", "lm"))).alias("ms"))
            .select("query_id", F.expr("transform(ms, s -> s.lm)").alias("luts"))
        )
    by_m = _pq_books_by_m(books)
    inner = ", ".join(
        "array("
        + ", ".join(_pq_sub_d2_sql(m, subdim, cv) for _cid, cv in by_m[m])
        + ")"
        for m in range(n_sub)
    )
    return q.select("query_id", F.expr(f"array({inner})").alias("luts"))


@query(
    "emb_pq_codes",
    oracle=_PQ_ORACLE,
    doc="Product quantization: 64-dim embeddings -> 4 subspaces x 8 "
    "codewords (k-means per subspace, trained on a bounded driver "
    "sample, broadcast back) -> 4 byte-sized codes + reconstruction "
    "error per vector. 16x compression for ANN shortlists; the assign "
    "phase is one scan against 32 broadcast codewords. Companion to "
    "emb_quantize_int8 (scalar) and sim_ivf_topk (coarse quantizer)",
    tags=("similarity", "quantization", "ext"),
)
def emb_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # expression-form encode (round-12): codebooks are driver-local,
    # so assignment is one projection — the broadcast join + two keyed
    # aggregations of the long-form pivot are gone (guide §2.4); the
    # fold arithmetic and (d2, code_id) tie-break are identical, so
    # codes and the rounded recon_err are bit-identical (oracle-held).
    wide = _pq_wide_books(emb, _pq_codebooks(emb), _PQ_M, 16)
    return wide.select(
        "vec_id",
        *[f"code{m}" for m in range(_PQ_M)],
        stable_round(
            F.col("d2_0") + F.col("d2_1") + F.col("d2_2") + F.col("d2_3"),
            6,
        ).alias("recon_err"),
    )


_TFIDF_K = 3

_TFIDF_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
tf AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok),
dlen AS (SELECT doc_id, sum(cnt) AS n_toks FROM tf GROUP BY doc_id),
df AS (SELECT tok, count(*) AS n_docs_with FROM tf GROUP BY tok),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT t.doc_id, t.tok,
         (t.cnt * 1.0 / dl.n_toks) * ln(n.n_docs * 1.0 / df.n_docs_with) AS tfidf
  FROM tf t
  JOIN dlen dl USING (doc_id)
  JOIN df USING (tok)
  CROSS JOIN n
)
SELECT doc_id, tok, CAST(rn AS INTEGER) AS rank,
       floor(tfidf * 1e6 + 0.5) / 1e6 AS tfidf
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY tfidf DESC, tok) AS rn
  FROM scored
) WHERE rn <= {_TFIDF_K}
"""


@query(
    "text_tfidf_topk",
    oracle=_TFIDF_ORACLE,
    doc="Per-document top-3 tf-idf terms — the keyword-extraction / "
    "feature-selection staple. Two aggregations (term freq, doc freq) "
    "+ a broadcast of the document-frequency table + a per-doc "
    "(partitioned) ranking window. The idf side is vocabulary-sized "
    "(zipf-capped), so at 100 TB it broadcasts while the corpus "
    "streams through one scan",
    tags=("dataset", "text", "ext"),
)
def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    dlen = tf.groupBy("doc_id").agg(F.sum("cnt").alias("n_toks"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("n_docs_with"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(dlen, "doc_id")
        .join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            (F.col("cnt") / F.col("n_toks"))
            * F.log(F.col("n_docs") / F.col("n_docs_with")),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _TFIDF_K)
        .select(
            "doc_id", "tok", F.col("rank").cast("int"),
            stable_round("tfidf", 6).alias("tfidf"),
        )
    )


# ---------------------------------------------------------------------------
# dataset splitting
# ---------------------------------------------------------------------------

_SPLIT_ORACLE = f"""
WITH assigned AS (
  SELECT doc_id, lang,
         CASE WHEN {_SQL_MD5_BIGINT.format(c="doc_id")} % 100 < 90 THEN 'train'
              WHEN {_SQL_MD5_BIGINT.format(c="doc_id")} % 100 < 95 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
SELECT split, lang, count(*) AS n_docs, min(doc_id) AS min_doc_id
FROM assigned GROUP BY split, lang
"""


@query(
    "split_train_val_test",
    oracle=_SPLIT_ORACLE,
    doc="Deterministic 90/5/5 train/val/test split by md5(doc_id) "
    "ranges — membership is a pure row-local expression (U2's modulo "
    "split, hash-hardened), so the split is reproducible across runs, "
    "engines, and corpus growth: a doc never migrates between splits "
    "when new docs arrive. Output is the per-(split, lang) audit "
    "table a pipeline checks before training",
    tags=("dataset", "sampling", "ext"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    h = _md5_bigint(F.col("doc_id")) % 100
    split = (
        F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    )
    return (
        docs.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


_SHUF_SEED = 42
_SHUF_SHARDS = 16

_SHUF_ORACLE = f"""
WITH keyed AS (
  SELECT doc_id,
         {_SQL_MD5_BIGINT.format(c=f"concat('{_SHUF_SEED}:', doc_id)")} AS skey
  FROM documents
)
SELECT doc_id, skey % {_SHUF_SHARDS} AS shard,
       CAST(row_number() OVER (PARTITION BY skey % {_SHUF_SHARDS}
                               ORDER BY skey, doc_id) AS BIGINT) AS pos
FROM keyed
"""


@query(
    "shuffle_shard_assign",
    oracle=_SHUF_ORACLE,
    doc="Deterministic global training-order shuffle + shard "
    "assignment: every doc gets a seed-salted md5 sort key; shard = "
    "key mod N, position = rank within shard by key. This is how a "
    "100 TB corpus is shuffled for training WITHOUT a global sort: "
    "one hash-partition pass distributes docs to shards, and each "
    "shard orders independently in parallel (the within-shard window "
    "never sees more than 1/N of the corpus). Changing the seed "
    "reshuffles; keeping it reproduces the exact epoch order",
    tags=("dataset", "sampling", "ext"),
)
def shuffle_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    skey = _md5_bigint(F.concat(F.lit(f"{_SHUF_SEED}:"), F.col("doc_id")))
    w = Window.partitionBy("shard").orderBy("skey", "doc_id")
    return (
        docs.select("doc_id", skey.alias("skey"))
        .withColumn("shard", F.col("skey") % _SHUF_SHARDS)
        .withColumn("pos", F.row_number().over(w).cast("bigint"))
        .select("doc_id", "shard", "pos")
    )


# ---------------------------------------------------------------------------
# text normalization
# ---------------------------------------------------------------------------

_NORM_ORACLE = r"""
WITH n AS (
  SELECT doc_id, n_chars,
         trim(regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '', 'g'),
                             '\s+', ' ', 'g')) AS norm
  FROM documents
)
SELECT doc_id,
       CAST(length(norm) AS BIGINT) AS norm_len,
       CAST(n_chars - length(norm) AS BIGINT) AS n_removed,
       substr(md5(norm), 1, 16) AS norm_key
FROM n
"""


@query(
    "text_normalize",
    oracle=_NORM_ORACLE,
    doc="Canonical text normalization: lowercase, strip punctuation, "
    "collapse whitespace runs, trim — emitting the normalized length, "
    "removed-char count, and an md5 dedup key over the normal form "
    "(what exact-dedup should hash instead of raw text). Single scan, "
    "pure string expressions, no UDF",
    tags=("dataset", "text", "ext"),
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower("text"), "[.,!?;:]", ""), r"\s+", " "
        )
    )
    return docs.select(
        "doc_id",
        F.length(norm).cast("bigint").alias("norm_len"),
        (F.col("n_chars") - F.length(norm)).cast("bigint").alias("n_removed"),
        F.substring(F.md5(norm), 1, 16).alias("norm_key"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Patterns chosen to parse identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repeats, \b, \d only.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_IP = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
_PII_DIGITS = r"\d{10,}"

# The synthetic corpus has no organic PII, which would make the oracle
# vacuous — deterministically inject it on BOTH sides (the same
# fixture-shaping used by the eval arm's lineitem roles).
_PII_SEED_DUCK = (
    "text"
    " || (CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR)"
    " || '@mail.example.org' ELSE '' END)"
    " || (CASE WHEN doc_id % 11 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR)"
    " || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END)"
    " || (CASE WHEN doc_id % 13 = 0 THEN ' acct 9' || lpad(CAST(doc_id AS VARCHAR), 10, '0')"
    " ELSE '' END)"
)

_PII_ORACLE = f"""
WITH seeded AS (
  SELECT doc_id, {_PII_SEED_DUCK} AS t0 FROM documents
), s1 AS (
  SELECT doc_id, t0, regexp_replace(t0, '{_PII_EMAIL}', '<EMAIL>', 'g') AS t1 FROM seeded
), s2 AS (
  SELECT *, regexp_replace(t1, '{_PII_IP}', '<IP>', 'g') AS t2 FROM s1
), s3 AS (
  SELECT *, regexp_replace(t2, '{_PII_DIGITS}', '<NUM>', 'g') AS t3 FROM s2
)
SELECT doc_id,
       substr(md5(t3), 1, 16) AS clean_key,
       CAST(len(regexp_extract_all(t0, '{_PII_EMAIL}')) AS BIGINT) AS n_email,
       CAST(len(regexp_extract_all(t1, '{_PII_IP}')) AS BIGINT) AS n_ip,
       CAST(len(regexp_extract_all(t2, '{_PII_DIGITS}')) AS BIGINT) AS n_num,
       CAST(len(regexp_extract_all(t0, '{_PII_EMAIL}'))
            + len(regexp_extract_all(t1, '{_PII_IP}'))
            + len(regexp_extract_all(t2, '{_PII_DIGITS}')) AS BIGINT) AS pii_total
FROM s3
"""


@query(
    "text_pii_scrub",
    oracle=_PII_ORACLE,
    doc="PII redaction pass: emails -> <EMAIL>, IPv4s -> <IP>, long "
    "digit runs -> <NUM>, applied in that order (each stage counts on "
    "the previous stage's output so an email's digits are never "
    "double-counted), emitting per-kind counts and an md5 key of the "
    "scrubbed text. Pure JVM regexp expressions in one scan — the "
    "standard pre-tokenizer scrub of a pretraining corpus, trivially "
    "parallel at 100 TB",
    tags=("dataset", "text", "ext"),
)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t0 = F.concat(
        F.col("text"),
        F.when(d % 7 == 0, F.concat(F.lit(" contact user"), d.cast("string"),
                                    F.lit("@mail.example.org"))).otherwise(""),
        F.when(d % 11 == 0, F.concat(F.lit(" from 10.0."), (d % 256).cast("string"),
                                     F.lit("."), (d % 100).cast("string"))).otherwise(""),
        F.when(d % 13 == 0, F.concat(F.lit(" acct 9"),
                                     F.lpad(d.cast("string"), 10, "0"))).otherwise(""),
    )
    s = docs.select("doc_id", t0.alias("t0"))
    s = s.withColumn("t1", F.regexp_replace("t0", _PII_EMAIL, "<EMAIL>"))
    s = s.withColumn("t2", F.regexp_replace("t1", _PII_IP, "<IP>"))
    s = s.withColumn("t3", F.regexp_replace("t2", _PII_DIGITS, "<NUM>"))
    n_email = F.regexp_count("t0", F.lit(_PII_EMAIL)).cast("bigint")
    n_ip = F.regexp_count("t1", F.lit(_PII_IP)).cast("bigint")
    n_num = F.regexp_count("t2", F.lit(_PII_DIGITS)).cast("bigint")
    return s.select(
        "doc_id",
        F.substring(F.md5("t3"), 1, 16).alias("clean_key"),
        n_email.alias("n_email"),
        n_ip.alias("n_ip"),
        n_num.alias("n_num"),
        (n_email + n_ip + n_num).alias("pii_total"),
    )


# ---------------------------------------------------------------------------
# character entropy (quality signal)
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = r"""
WITH chars AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch FROM documents
), counts AS (
  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY doc_id, ch
), totals AS (
  SELECT doc_id, sum(c) AS n, count(*) AS n_distinct FROM counts GROUP BY doc_id
), probs AS (
  SELECT c.doc_id, list(c.c * 1.0 / t.n ORDER BY c.ch) AS ps,
         max(t.n) AS n, max(t.n_distinct) AS n_distinct
  FROM counts c JOIN totals t ON c.doc_id = t.doc_id
  GROUP BY c.doc_id
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_chars_seen,
       CAST(n_distinct AS BIGINT) AS n_distinct_chars,
       floor((-list_sum(list_transform(ps, p -> p * log2(p)))) * 1e6 + 0.5) / 1e6
         AS char_entropy_bits
FROM probs
"""


@query(
    "doc_char_entropy",
    oracle=_ENTROPY_ORACLE,
    doc="Per-document Shannon entropy over characters (bits) — the "
    "classic gibberish/boilerplate quality signal (near-zero entropy = "
    "repeated filler, ~4.1 bits = natural English). The entropy fold "
    "runs over the char-SORTED probability list on both engines "
    "(sort_array + aggregate HOF vs list(... ORDER BY) + list_sum), so "
    "float summation order is pinned and the hashes match bit-for-bit. "
    "One explode + two grouped passes, all keyed by doc_id",
    tags=("dataset", "text", "quality", "ext"),
)
def doc_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    chars = docs.select(
        "doc_id", F.explode(F.regexp_extract_all("text", F.lit(r"[\s\S]"), 0)).alias("ch")
    )
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("c"))
    per_doc = counts.groupBy("doc_id").agg(
        F.sum("c").alias("n"),
        F.count("*").alias("n_distinct"),
        F.sort_array(F.collect_list(F.struct("ch", "c"))).alias("cc"),
    )
    p = lambda s: s["c"].cast("double") / F.col("n")  # noqa: E731
    entropy = -F.aggregate(
        F.col("cc"),
        F.lit(0.0),
        lambda acc, s: acc + p(s) * F.log2(p(s)),
    )
    return per_doc.select(
        "doc_id",
        F.col("n").cast("bigint").alias("n_chars_seen"),
        F.col("n_distinct").cast("bigint").alias("n_distinct_chars"),
        stable_round(entropy, 6).alias("char_entropy_bits"),
    )


# ---------------------------------------------------------------------------
# PQ asymmetric-distance search (the PQ codes' consumer)
# ---------------------------------------------------------------------------

_PQ_NQ = 10  # query batch, same convention as sim_topk_bruteforce
_PQ_TOPK = 5

_PQ_SEARCH_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{{cte}}
allsub AS (
  SELECT vec_id, m, list_transform(range(1, 17), i -> v[m*16 + i]) AS sv
  FROM e CROSS JOIN ms
),
codes AS (
  SELECT vec_id, m, code_id FROM (
    SELECT s.vec_id, s.m, c.code_id,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {{l2}} ASC, c.code_id) AS rn
    FROM allsub s JOIN cb c ON c.m = s.m
  ) WHERE rn = 1
),
pcodes AS (
  SELECT vec_id,
         max(CASE WHEN m = 0 THEN code_id END) AS code0,
         max(CASE WHEN m = 1 THEN code_id END) AS code1,
         max(CASE WHEN m = 2 THEN code_id END) AS code2,
         max(CASE WHEN m = 3 THEN code_id END) AS code3
  FROM codes GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {_PQ_NQ}),
lut AS (
  SELECT q.query_id, c.m, c.code_id,
         list_sum(list_transform(range(1, 17),
           i -> (q.v[c.m*16 + i] - c.cv[i]) * (q.v[c.m*16 + i] - c.cv[i]))) AS d2
  FROM q CROSS JOIN cb c
),
adc AS (
  SELECT l0.query_id, p.vec_id AS neighbor_id,
         l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
  FROM pcodes p
  JOIN lut l0 ON l0.m = 0 AND l0.code_id = p.code0
  JOIN lut l1 ON l1.m = 1 AND l1.code_id = p.code1 AND l1.query_id = l0.query_id
  JOIN lut l2 ON l2.m = 2 AND l2.code_id = p.code2 AND l2.query_id = l0.query_id
  JOIN lut l3 ON l3.m = 3 AND l3.code_id = p.code3 AND l3.query_id = l0.query_id
  WHERE p.vec_id <> l0.query_id
)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
       floor(adc * 1e6 + 0.5) / 1e6 AS adc_dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {_PQ_TOPK}
"""


_PQ_TOPK_ORACLE = _PQ_SEARCH_ORACLE.format(cte=_pq_kmeans_cte(), l2=_PQ_L2)


@query(
    "sim_pq_topk",
    oracle=_PQ_TOPK_ORACLE,
    doc="PQ asymmetric-distance search (ADC): top-5 neighbors per "
    "query vector, scored as sum over subspaces of "
    "L2(query_subvector, codeword[candidate_code]) — the consumer of "
    "emb_pq_codes and the billion-scale ANN shape (a 16x-compressed "
    "code table is scanned instead of raw vectors; the per-query "
    "lookup table is queries x 32 entries, broadcast). ADC summed in "
    "fixed m-order on both engines so ranking ties are impossible to "
    "flip cross-engine; per-query ranking window is partitioned "
    "(no global sort)",
    tags=("similarity", "quantization", "ext"),
)
def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # Round-12 expression form: codebooks are driver-local, so BOTH
    # the encode pass and the per-query LUT are pure projections with
    # literal codewords — the assign's broadcast join + two keyed
    # aggregations AND the LUT's crossJoin + two collect_list
    # aggregations are gone (guide §2.4); the two broadcast joins
    # attaching (query_id, luts) fuse into one. Fold arithmetic,
    # (d2, code_id) tie-break, and luts[m][code] layout are identical
    # to the join form, so every ADC and rank is bit-identical
    # (oracle-held).
    books = _pq_codebooks(emb)  # trained ONCE, shared by assign + LUT
    pcodes = _pq_wide_books(emb, books, _PQ_M, 16).select(
        "vec_id", *[f"code{m}" for m in range(_PQ_M)]
    )
    q = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    lut_q = _pq_luts_lit(q, books, _PQ_M, 16)
    base = pcodes.crossJoin(F.broadcast(lut_q))
    d = [
        F.element_at(
            F.element_at(F.col("luts"), m + 1), F.col(f"code{m}").cast("int") + 1
        )
        for m in range(_PQ_M)
    ]
    adc = (
        d[0] + d[1] + d[2] + d[3]
    )  # fixed m-order sum, matching the oracle's l0.d2 + l1.d2 + ...
    scored = base.filter(F.col("vec_id") != F.col("query_id")).select(
        "query_id", F.col("vec_id").alias("neighbor_id"), adc.alias("adc")
    )
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("adc"), 6).alias("adc_dist"),
        )
    )


# ---------------------------------------------------------------------------
# sim_pq_bits_sweep — the COMPRESSION axis (VERDICT r11 ask #4)
# ---------------------------------------------------------------------------

_PQ_DIM = 64
_PQ_BITS_AXIS = (2, 4, 8)  # subspace counts: 32/16/8 dims per subspace


def _pq_bits_arm_sql(n_sub: int) -> str:
    """One compression-axis arm of the sweep oracle: the parametric
    twin of _pq_kmeans_cte + the sim_pq_topk ADC joins at an arbitrary
    (n_sub, subdim) split, CTE names prefixed ``s{n_sub}_`` so three
    arms coexist in one statement. ADC is summed in fixed m-order via
    the m-wise joins (same cross-engine tie discipline as
    sim_pq_topk's oracle)."""
    sd = _PQ_DIM // n_sub
    p = f"s{n_sub}_"
    l2 = (
        f"list_sum(list_transform(range(1, {sd + 1}), "
        "i -> (sv[i] - cv[i]) * (sv[i] - cv[i])))"
    )
    parts = [
        f"{p}ms AS (SELECT unnest(range(0, {n_sub})) AS m),",
        f"{p}dims AS (SELECT unnest(generate_series(1, {sd})) AS dim),",
        f"{p}subv AS (SELECT vec_id, m, "
        f"list_transform(range(1, {sd + 1}), i -> v[m*{sd} + i]) AS sv"
        f"  FROM samp CROSS JOIN {p}ms),",
        f"{p}c0 AS (SELECT m, vec_id AS code_id, sv AS cv "
        f"FROM {p}subv WHERE vec_id < {_PQ_K}),",
    ]
    for it in range(1, _PQ_ITERS + 1):
        parts.append(
            f"""{p}a{it} AS (
  SELECT vec_id, m, code_id, sv FROM (
    SELECT s.vec_id, s.m, c.code_id, s.sv,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {l2} ASC, c.code_id) AS rn
    FROM {p}subv s JOIN {p}c{it - 1} c ON c.m = s.m
  ) WHERE rn = 1
),
{p}c{it} AS (
  SELECT m, code_id, list(xa ORDER BY dim) AS cv FROM (
    SELECT m, code_id, dim, floor(avg(sv[dim]) * 1e6 + 0.5) / 1e6 AS xa
    FROM {p}a{it} CROSS JOIN {p}dims GROUP BY m, code_id, dim
  ) GROUP BY m, code_id
),"""
        )
    lut_joins = "\n  ".join(
        f"JOIN {p}lut l{m} ON l{m}.m = {m} AND l{m}.code_id = p.c{m}"
        + (f" AND l{m}.query_id = l0.query_id" if m else "")
        for m in range(n_sub)
    )
    adc_sum = " + ".join(f"l{m}.d2" for m in range(n_sub))
    code_cols = ",\n         ".join(
        f"max(CASE WHEN m = {m} THEN code_id END) AS c{m}"
        for m in range(n_sub)
    )
    # fixed m-order per-vector sum (cross-engine fp discipline), then
    # a plain mean whose ~1e-13 order sensitivity cannot move the
    # 1e-6 grid
    err_sum = " + ".join(
        f"max(CASE WHEN m = {m} THEN d2 END)" for m in range(n_sub)
    )
    parts.append(
        f"""{p}allsub AS (
  SELECT vec_id, m, list_transform(range(1, {sd + 1}), i -> v[m*{sd} + i]) AS sv
  FROM e CROSS JOIN {p}ms
),
{p}codes AS (
  SELECT vec_id, m, code_id, d2 FROM (
    SELECT s.vec_id, s.m, c.code_id, {l2} AS d2,
           row_number() OVER (PARTITION BY s.vec_id, s.m
                              ORDER BY {l2} ASC, c.code_id) AS rn
    FROM {p}allsub s JOIN {p}c{_PQ_ITERS} c ON c.m = s.m
  ) WHERE rn = 1
),
{p}pcodes AS (
  SELECT vec_id,
         {code_cols}
  FROM {p}codes GROUP BY vec_id
),
{p}err AS (
  SELECT avg(e) AS me FROM (
    SELECT vec_id, {err_sum} AS e
    FROM {p}codes GROUP BY vec_id
  )
),
{p}lut AS (
  SELECT q.query_id, c.m, c.code_id,
         list_sum(list_transform(range(1, {sd + 1}),
           i -> (q.v[c.m*{sd} + i] - c.cv[i]) * (q.v[c.m*{sd} + i] - c.cv[i]))) AS d2
  FROM q CROSS JOIN {p}c{_PQ_ITERS} c
),
{p}adc AS (
  SELECT l0.query_id, p.vec_id AS neighbor_id, {adc_sum} AS adc
  FROM {p}pcodes p
  {lut_joins}
  WHERE p.vec_id <> l0.query_id
),
{p}topk AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY adc, neighbor_id) AS rn
    FROM {p}adc
  ) WHERE rn <= 3
),
{p}hits AS (
  SELECT count(*) AS n_hits FROM {p}topk t
  JOIN bf b ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
           AND b.rank <= 3
),"""
    )
    return "\n".join(parts)


def _pq_bits_sweep_oracle() -> str:
    arms = "\n".join(_pq_bits_arm_sql(n) for n in _PQ_BITS_AXIS)
    rows = "\nUNION ALL\n".join(
        f"""SELECT CAST({n} AS INTEGER) AS n_subspaces,
       CAST({n * 3} AS BIGINT) AS code_bits,
       CAST(h.n_hits AS BIGINT) AS n_hits,
       floor((h.n_hits * 1.0 / (nq.q * 3)) * 1e6 + 0.5) / 1e6 AS recall_at_3,
       floor(r.me * 1e6 + 0.5) / 1e6 AS mean_recon_err
FROM s{n}_hits h CROSS JOIN nq CROSS JOIN s{n}_err r"""
        for n in _PQ_BITS_AXIS
    )
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
samp AS (SELECT vec_id, v FROM e WHERE vec_id < {_PQ_SAMPLE}),
q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {_PQ_NQ}),
bf AS ({_BRUTEFORCE_ORACLE}),
nq AS (SELECT count(DISTINCT query_id) AS q FROM bf),
{arms}
_done AS (SELECT 1)
{rows}
"""


@query(
    "sim_pq_bits_sweep",
    oracle=_pq_bits_sweep_oracle(),
    doc="The COMPRESSION tuning curve — the codebook analog of "
    "sim_nprobe_sweep: recall@3 vs the shared brute-force ground "
    "truth at m = 2/4/8 subspaces over the 64-dim embeddings (code "
    "size 6/12/24 bits per vector at K=8 codewords), each arm a full "
    "driver-trained-codebook + distributed-ADC pass in fixed m-order. "
    "nprobe prices ROUTING error; this prices QUANTIZATION error — "
    "OPERATIONS.md sizes an index by reading both curves side by "
    "side. Every arm reuses the exact sim_pq_topk machinery "
    "parametrically (delegating helpers, so the splits cannot drift "
    "from the registered 4x16 queries)",
    tags=("similarity", "eval", "quantization", "ext"),
)
def sim_pq_bits_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    q = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    bf3 = track_persist(
        sim_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    nq = bf3.agg(F.countDistinct("query_id").alias("_q"))
    # Round-12 expression form (see sim_pq_topk): ONE sample collect
    # trains all three splits (was one scan+collect per arm), and per
    # arm the encode pass and per-query LUT are pure projections with
    # literal codewords — each arm drops its assign broadcast-join +
    # two keyed aggregations and its LUT crossJoin + two collect_list
    # aggregations (guide §2.4). Identical fold arithmetic and
    # tie-breaks; the sweep's oracle re-verifies bit-equality.
    samp = _pq_sample_rows(emb)
    # Round-13 one-pass stitch (the disk-sweep reshape applied here):
    # the per-arm encode/LUT stay arm-local (their schemas differ with
    # n_sub), but every arm's scored stream has the SAME shape — tag it
    # with the arm and union, so ONE (arm, query_id) top-k window and
    # ONE grouped hits join replace 3x(window + single-row hits +
    # crossJoin stitch). The per-arm recon aggregates (1 row each, over
    # the persisted wide frame) union into the 3-row spine the hits
    # left-join onto — an arm with zero hits still emits its row with
    # n_hits 0, exactly as the old crossJoin form did.
    scored_arms, recon_arms = [], []
    for n_sub in _PQ_BITS_AXIS:
        sd = _PQ_DIM // n_sub
        books = _pq_train_books(samp, n_sub, sd)
        wide = track_persist(
            _pq_wide_books(emb, books, n_sub, sd).select(
                "vec_id",
                *[f"code{m}" for m in range(n_sub)],
                reduce(
                    lambda a, b: a + b,
                    [F.col(f"d2_{m}") for m in range(n_sub)],
                ).alias("_err"),  # fixed m-order sum (fp discipline)
            )
        )
        recon_arms.append(
            wide.agg(stable_round(F.avg("_err"), 6).alias("mean_recon_err"))
            .select(
                F.lit(n_sub).cast("int").alias("n_subspaces"),
                "mean_recon_err",
            )
        )
        pcodes = wide.drop("_err")
        lut_q = _pq_luts_lit(q, books, n_sub, sd)
        base = pcodes.crossJoin(F.broadcast(lut_q))
        d = [
            F.element_at(
                F.element_at(F.col("luts"), m + 1),
                F.col(f"code{m}").cast("int") + 1,
            )
            for m in range(n_sub)
        ]
        adc = reduce(lambda a, b: a + b, d)  # fixed m-order sum
        scored_arms.append(
            base.filter(F.col("vec_id") != F.col("query_id")).select(
                F.lit(n_sub).cast("int").alias("n_subspaces"),
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                adc.alias("adc"),
            )
        )
    scored = reduce(DataFrame.unionAll, scored_arms)
    wq = Window.partitionBy("n_subspaces", "query_id").orderBy(
        "adc", "neighbor_id"
    )
    topk = scored.withColumn("rk", F.row_number().over(wq)).filter(
        F.col("rk") <= 3
    )
    hits = (
        topk.join(F.broadcast(bf3), ["query_id", "neighbor_id"])
        .groupBy("n_subspaces")
        .agg(F.count("*").alias("_nh"))
    )
    recon = reduce(DataFrame.unionAll, recon_arms)
    nh = F.coalesce(F.col("_nh"), F.lit(0))
    return (
        recon.join(hits, "n_subspaces", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("n_subspaces").cast("int").alias("n_subspaces"),
            (F.col("n_subspaces").cast("bigint") * 3).alias("code_bits"),
            nh.cast("bigint").alias("n_hits"),
            stable_round(nh * F.lit(1.0) / (F.col("_q") * 3), 6).alias(
                "recall_at_3"
            ),
            "mean_recon_err",
        )
    )


# ---------------------------------------------------------------------------
# sentence-level corpus diagnostics
# ---------------------------------------------------------------------------

_SENT_ORACLE = """
WITH frags AS (
  SELECT doc_id,
         list_filter(list_transform(regexp_split_to_array(text, '[.!?]+'),
                                    s -> trim(s)),
                     s -> length(s) > 0) AS sents
  FROM documents
)
SELECT doc_id,
       CAST(len(sents) AS BIGINT) AS n_sentences,
       CAST(list_sum(list_transform(sents, s -> length(s))) AS BIGINT)
         AS n_sentence_chars,
       CASE WHEN len(sents) > 0 THEN
         floor((list_sum(list_transform(sents, s -> length(s))) * 1.0
                / len(sents)) * 1e2 + 0.5) / 1e2
       END AS mean_sentence_len
FROM frags
"""


@query(
    "text_sentence_stats",
    oracle=_SENT_ORACLE,
    doc="Sentence segmentation diagnostics: split on [.!?]+ runs, trim, "
    "drop empties, emit per-doc sentence count / total chars / mean "
    "length — the pre-tokenizer shape check for packing and quality "
    "gates. One scan, pure JVM higher-order functions (split + "
    "transform + filter + aggregate), no UDF; integer sums are exact "
    "so only the final mean needs stable rounding",
    tags=("text", "dataset", "ext"),
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sents = F.filter(
        F.transform(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s)),
        lambda s: F.length(s) > 0,
    )
    d = docs.select("doc_id", sents.alias("_sents"))
    n = F.size("_sents")
    total = F.aggregate(
        F.transform(F.col("_sents"), lambda s: F.length(s).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    # NULL (not 0) when a doc has no sentences: DuckDB's list_sum over
    # an empty list is NULL, and the oracle's CAST keeps it NULL — an
    # all-separator doc must not split the driver hash (review find).
    return d.select(
        "doc_id",
        n.cast("bigint").alias("n_sentences"),
        F.when(n > 0, total).alias("n_sentence_chars"),
        F.when(n > 0, stable_round(total / n, 2)).alias("mean_sentence_len"),
    )


# ---------------------------------------------------------------------------
# embedding column statistics
# ---------------------------------------------------------------------------

_DIM_STATS_ORACLE = """
WITH vals AS (
  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
)
SELECT CAST(dim AS INTEGER) AS dim, count(*) AS n,
       floor((avg(x)) * 1e6 + 0.5) / 1e6 AS mean_val,
       floor((min(x)) * 1e6 + 0.5) / 1e6 AS min_val,
       floor((max(x)) * 1e6 + 0.5) / 1e6 AS max_val
FROM vals GROUP BY dim
"""


@query(
    "emb_dim_stats",
    oracle=_DIM_STATS_ORACLE,
    doc="Per-dimension embedding statistics (mean/min/max per "
    "coordinate) — the calibration pass quantization and whitening "
    "need before emb_quantize_int8/emb_pq_codes. posexplode + one "
    "groupBy(dim): n x d values stream through a d-key partial "
    "aggregation, so the shuffle is d rows per map task regardless of "
    "corpus size",
    tags=("embeddings", "dataset", "ext"),
)
def emb_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings")
    vals = emb.select(F.posexplode("embedding").alias("dim", "x")).select(
        "dim", F.col("x").cast("double").alias("x")
    )
    return vals.groupBy(F.col("dim").cast("int").alias("dim")).agg(
        F.count("*").alias("n"),
        stable_round(F.avg("x"), 6).alias("mean_val"),
        stable_round(F.min("x"), 6).alias("min_val"),
        stable_round(F.max("x"), 6).alias("max_val"),
    )


# ---------------------------------------------------------------------------
# cross-dimension covariance (the Gram accumulation distributed PCA runs on)
# ---------------------------------------------------------------------------

_COV_GRID = 1024  # embedding values quantized to an exact 1/1024 grid
_COV_TOPK = 20

_COV_ORACLE = f"""
WITH q AS (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_COV_GRID} + 0.5) AS BIGINT)) AS q
  FROM embeddings
  WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
    AND len(embedding) >= 2
),
pairs AS (
  SELECT CAST(di AS INTEGER) AS dim_i, CAST(dj AS INTEGER) AS dim_j,
         q[di + 1] AS qi, q[dj + 1] AS qj
  FROM q, unnest(range(0, len(q))) AS u(di), unnest(range(0, len(q))) AS v(dj)
  WHERE dj > di
),
agg AS (
  SELECT dim_i, dim_j, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(qi) AS BIGINT) AS s_i, CAST(sum(qj) AS BIGINT) AS s_j,
         CAST(sum(qi * qj) AS BIGINT) AS s_ij
  FROM pairs GROUP BY dim_i, dim_j
),
scored AS (
  SELECT dim_i, dim_j, n,
         (s_ij * 1.0 / n - (s_i * 1.0 / n) * (s_j * 1.0 / n))
           / ({_COV_GRID}.0 * {_COV_GRID}.0) AS cov
  FROM agg
)
SELECT dim_i, dim_j, n,
       floor(cov * 1e8 + 0.5) / 1e8 AS covariance
FROM scored
ORDER BY abs(cov) DESC, dim_i, dim_j
LIMIT {_COV_TOPK}
"""


@query(
    "emb_covariance_pairs",
    oracle=_COV_ORACLE,
    doc="Top-20 most-correlated embedding dimension pairs by |population "
    "covariance| — the cross-dimension Gram accumulation that distributed "
    "PCA / whitening runs on (emb_dim_stats covers the diagonal). Values "
    f"quantize to an exact 1/{_COV_GRID} integer grid, so the three "
    "per-pair sums are associative BIGINT totals with headroom at a "
    "trillion rows (|s_ij| <= n * grid^2 < 2^63); covariance is then "
    "derived divide-first (s_ij/n - (s_i/n)(s_j/n)) in IEEE doubles, "
    "identical on both engines, never forming the overflow-prone "
    "n*s_ij product. Shape: the Gram partials accumulate per Arrow "
    "batch with an INTEGER numpy matmul (int64 Q^T Q — exact, so "
    "Python costs nothing in determinism; this is the one hot path "
    "where dense linear algebra earns the Pandas boundary, ~2000x "
    "fewer rows than the d^2-per-row JVM expansion), then one "
    "d^2-key map-side-combinable aggregate merges batches — shuffle "
    "volume is d^2 rows per task regardless of corpus size; "
    "TakeOrdered keeps the top pairs. Rows are pinned to the corpus "
    "modal width (max length) on both engines, so pair-conditioned "
    "and marginal sums coincide exactly",
    tags=("embeddings", "dataset", "ext"),
)
def emb_covariance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    maxd = emb.agg(F.max(F.size("embedding")).alias("d"))
    q = (
        emb.crossJoin(F.broadcast(maxd))
        .filter((F.size("embedding") == F.col("d")) & (F.col("d") >= 2))
        .select(
            F.expr(
                f"transform(embedding, x -> "
                f"CAST(floor(CAST(x AS DOUBLE) * {_COV_GRID} + 0.5) AS BIGINT))"
            ).alias("q")
        )
    )

    def gram_partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["q"].to_list(), dtype=np.int64)
            # int64 matmul is EXACT (|q| <= grid, batch <= arrow max):
            # the per-batch Gram partial, merged by an integer agg below
            S = Q.T @ Q
            s = Q.sum(axis=0)
            n = Q.shape[0]
            d = Q.shape[1]
            iu, ju = np.triu_indices(d, k=1)
            yield pd.DataFrame(
                {
                    "dim_i": iu.astype("int32"),
                    "dim_j": ju.astype("int32"),
                    "n": np.full(len(iu), n, dtype="int64"),
                    "s_i": s[iu],
                    "s_j": s[ju],
                    "s_ij": S[iu, ju],
                }
            )

    partials = q.mapInPandas(
        gram_partials,
        schema="dim_i int, dim_j int, n long, s_i long, s_j long, s_ij long",
    )
    agg = partials.groupBy("dim_i", "dim_j").agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s_i").cast("bigint").alias("s_i"),
        F.sum("s_j").cast("bigint").alias("s_j"),
        F.sum("s_ij").cast("bigint").alias("s_ij"),
    )
    cov = (
        F.col("s_ij") * F.lit(1.0) / F.col("n")
        - (F.col("s_i") * F.lit(1.0) / F.col("n"))
        * (F.col("s_j") * F.lit(1.0) / F.col("n"))
    ) / F.lit(float(_COV_GRID) * float(_COV_GRID))
    scored = agg.withColumn("cov", cov)
    return (
        scored.orderBy(F.abs(F.col("cov")).desc(), "dim_i", "dim_j")
        .limit(_COV_TOPK)
        .select(
            "dim_i",
            "dim_j",
            "n",
            stable_round(F.col("cov"), 8).alias("covariance"),
        )
    )


# ---------------------------------------------------------------------------
# distributed PCA: top principal direction by fixed power iteration
# ---------------------------------------------------------------------------

_PCA_W = 100_000  # iterate grid: v is an integer vector with max|v| = W
_PCA_ITERS = 3  # fixed iteration count — a defined transform, not a loop

# round-half-away-from-zero integer division a/b (b > 0), written so
# both engines divide POSITIVE integers only (Spark `div` truncates
# toward zero, DuckDB `//` floors — they agree on positives, not on
# negatives). {a}/{b} are SQL fragments.
def _rdiv_sql(a: str, b: str) -> str:
    return (
        f"(CASE WHEN ({a}) < 0 "
        f"THEN -((-2 * ({a}) + ({b})) // (2 * ({b}))) "
        f"ELSE ((2 * ({a}) + ({b})) // (2 * ({b}))) END)"
    )


def _rdiv_spark(a: str, b: str) -> str:
    return (
        f"(CASE WHEN ({a}) < 0 "
        f"THEN -((-2 * ({a}) + ({b})) div (2 * ({b}))) "
        f"ELSE ((2 * ({a}) + ({b})) div (2 * ({b}))) END)"
    )


def _pca_oracle() -> str:
    """Chained-CTE power iteration mirroring the Spark plan exactly:
    the same integer grids, the same rounded divisions, so every v_t is
    integer-identical on both engines."""
    parts = [
        f"""WITH qt AS (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_COV_GRID} + 0.5) AS BIGINT)) AS q
  FROM embeddings WHERE len(embedding) >= 1
),
e AS (
  SELECT vec_id, CAST(di AS INTEGER) AS dim, q[di + 1] AS qv
  FROM qt, unnest(range(0, len(q))) AS u(di)
),
v0 AS (SELECT DISTINCT dim, CAST({_PCA_W} AS BIGINT) AS v FROM e)"""
    ]
    for t in range(1, _PCA_ITERS + 1):
        p = t - 1
        parts.append(
            f"""s{t} AS (
  SELECT e.vec_id, CAST(sum(e.qv * v{p}.v) AS BIGINT) AS s
  FROM e JOIN v{p} USING (dim) GROUP BY e.vec_id
),
sp{t} AS (SELECT vec_id, {_rdiv_sql('s', str(_PCA_W))} AS sp FROM s{t}),
u{t} AS (
  SELECT e.dim, CAST(sum(e.qv * sp{t}.sp) AS BIGINT) AS u
  FROM e JOIN sp{t} USING (vec_id) GROUP BY e.dim
),
m{t} AS (SELECT greatest(CAST(max(abs(u)) AS BIGINT), 1) AS m FROM u{t}),
v{t} AS (
  SELECT dim, {_rdiv_sql(f'u * {_PCA_W}', 'm')} AS v
  FROM u{t} CROSS JOIN m{t}
)"""
        )
    final = f"""n2 AS (SELECT CAST(sum(v * v) AS BIGINT) AS n2 FROM v{_PCA_ITERS})
SELECT dim, v AS v_grid,
       floor((v * 1.0 / sqrt(CAST(n2 AS DOUBLE))) * 1e6 + 0.5) / 1e6 AS component
FROM v{_PCA_ITERS} CROSS JOIN n2
WHERE n2 > 0"""
    return ",\n".join(parts) + ",\n" + final


@query(
    "emb_pca_power",
    oracle=_pca_oracle(),
    doc=f"Distributed power iteration ({_PCA_ITERS} fixed steps) toward "
    "the top principal direction of the (uncentered) embedding Gram "
    "matrix — the distributed-PCA matvec primitive: per iteration, the "
    "corpus-wide X^T(Xv) reduces to one per-row dot product plus one "
    "d-key map-side-combinable aggregate; v never exceeds 64 numbers "
    "and the driver never sees data. Convergence is data-dependent "
    "((lambda2/lambda1)^T — the iteration count is the knob; flat "
    "spectra need subspace iteration/deflation, same matvec shape); "
    "tests/test_pca_power.py pins numerical fidelity: the integer-grid "
    "iterate matches a float64 power iteration to cos >= 0.9999. Every quantity stays on "
    f"an exact integer grid (values 1/{_COV_GRID}, iterate 1/{_PCA_W}): "
    "per-row scores and the iterate are renormalized by max-|u| with "
    "round-half-away-from-zero integer division (positive-operand "
    "form, since Spark div truncates and DuckDB // floors), so all "
    f"{_PCA_ITERS} iterations are integer-identical on both engines; "
    "the only float ops are the final sqrt (IEEE-exact on an exact "
    "integer) and one division. Centering at scale: broadcast the "
    "per-dim means and subtract before quantizing — the iteration "
    "shape is unchanged. BIGINT headroom is ENFORCED at runtime, not "
    "just documented: one bounded pre-aggregate measures n and max|q| "
    "and the query raises (with the divisor knob named) before any "
    "iteration if n*d*qmax^2*W could reach 2^62 — non-ANSI Spark sum "
    "wraps silently, so a loud error replaces a silently-wrong "
    "principal direction. Precision is set by the grids, not the data. "
    "Spark control flow is the textbook one: the driver holds ONLY "
    "the 64-entry iterate (a bounded O(d) collect per iteration, same "
    "class as the documented IVF/PQ samples); each iteration is one "
    "executor-side corpus pass with v folded in as a literal array "
    "(zip_with fold, no corpus self-join — the oracle's join "
    "formulation is the same arithmetic on exact integers). Python "
    "ints ARE arbitrary-precision BIGINTs, so the driver-side rdiv is "
    "bit-identical to the oracle's",
    tags=("embeddings", "dataset", "ext"),
)
def emb_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = load(spark, sf_dir, "embeddings").filter(F.size("embedding") >= 1)
    rows = track_persist(
        emb.select(
            F.expr(
                f"transform(embedding, x -> "
                f"CAST(floor(CAST(x AS DOUBLE) * {_COV_GRID} + 0.5) AS BIGINT))"
            ).alias("q")
        )
    )
    dims = sorted(
        r["dim"]
        for r in rows.select(F.posexplode("q").alias("dim", "_qv"))
        .select("dim")
        .distinct()
        .collect()
    )
    schema = "dim int, v_grid bigint, component double"
    if not dims:
        return spark.createDataFrame([], schema)

    # BIGINT headroom guard: |u| <= n * d * qmax^2 and the v-update
    # multiplies u by W, so the largest intermediate is bounded by
    # n * d * qmax^2 * W. Non-ANSI Spark sum on BIGINT wraps SILENTLY
    # past 2^63 — fail loudly instead of returning a wrong principal
    # direction. One extra bounded aggregate (2 scalars); Python ints
    # are arbitrary-precision so the bound itself cannot overflow.
    g = rows.select(
        F.count("*").alias("n"),
        F.max(
            F.expr("aggregate(q, 0L, (acc, x) -> greatest(acc, abs(x)))")
        ).alias("qmax"),
    ).collect()[0]
    n_total, qmax = int(g["n"]), int(g["qmax"] or 1)
    bound = n_total * (max(dims) + 1) * qmax * qmax * _PCA_W
    if bound >= 2**62:
        raise ValueError(
            f"emb_pca_power: int64 headroom exceeded (n={n_total}, "
            f"d={max(dims) + 1}, qmax={qmax}, W={_PCA_W}: bound "
            f"2^{bound.bit_length()} >= 2^62). Raise the sp divisor "
            f"(_PCA_W) or shrink _COV_GRID so n*d*qmax^2*W stays under "
            f"2^62 — precision is set by the grids, not the data."
        )

    def rdiv_py(a: int, b: int) -> int:
        # half-away-from-zero on positive operands, like the SQL form
        return (-((-2 * a + b) // (2 * b))) if a < 0 else ((2 * a + b) // (2 * b))

    v = {dim: _PCA_W for dim in dims}
    for _ in range(_PCA_ITERS):
        varr = F.array(
            *[F.lit(v.get(i, 0)).cast("bigint") for i in range(max(dims) + 1)]
        )
        scored = rows.withColumn("varr", varr).withColumn(
            "s",
            F.expr(
                "aggregate(zip_with(q, varr, (x, y) -> "
                "coalesce(x, 0L) * coalesce(y, 0L)), 0L, (acc, x) -> acc + x)"
            ),
        )
        sp = scored.withColumn(
            "sp", F.expr(_rdiv_spark("s", str(_PCA_W))).cast("bigint")
        )
        u_rows = (
            sp.select(F.posexplode("q").alias("dim", "qv"), "sp")
            .groupBy("dim")
            .agg(F.sum(F.col("qv") * F.col("sp")).cast("bigint").alias("u"))
            .collect()
        )
        u = {r["dim"]: r["u"] for r in u_rows}
        m = max(1, max((abs(x) for x in u.values()), default=1))
        v = {dim: rdiv_py(u.get(dim, 0) * _PCA_W, m) for dim in dims}

    n2 = sum(x * x for x in v.values())
    if n2 == 0:
        return spark.createDataFrame([], schema)
    # v * 1.0 / sqrt(n2) in exactly the oracle's operation order —
    # multiplying by a precomputed reciprocal would differ in the ulp
    nrm = math.sqrt(float(n2))
    out = [
        (dim, v[dim], math.floor((v[dim] * 1.0 / nrm) * 1e6 + 0.5) / 1e6)
        for dim in dims
    ]
    return spark.createDataFrame(out, schema)


# ---------------------------------------------------------------------------
# corpus bigram statistics (tokenizer-merge prep)
# ---------------------------------------------------------------------------

_BIGRAM_TOPK = 20

_BIGRAM_ORACLE = f"""
WITH w AS (SELECT string_split(lower(text), ' ') AS toks FROM documents),
bg AS (
  SELECT unnest(list_transform(range(1, len(toks)),
                i -> toks[i] || ' ' || toks[i + 1])) AS bigram
  FROM w WHERE len(toks) >= 2
)
SELECT bigram, CAST(count(*) AS BIGINT) AS cnt
FROM bg GROUP BY bigram
ORDER BY cnt DESC, bigram LIMIT {_BIGRAM_TOPK}
"""


@query(
    "text_bigram_topk",
    oracle=_BIGRAM_ORACLE,
    doc="Corpus bigram frequencies, top-20 — the pair-count pass a "
    "BPE/WordPiece merge step runs every iteration (most-frequent "
    "adjacent pair). Adjacent pairs come from one zip of the token "
    "array with its tail (pure higher-order transform, no self-join); "
    "explode + groupBy is map-side-combined and the top-k is "
    "TakeOrderedAndProject: per-partition heads + driver merge of k "
    "rows, never a global sort",
    tags=("text", "dataset", "ext"),
)
def text_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    # Materialize the token array into a column FIRST: a lambda that
    # captures the raw split(...) expression re-splits the whole text
    # per element lookup (O(words^2) per doc — measured 2.4 s vs
    # 0.3 s at sf0.1). zip_with of the array against its own tail
    # touches each token once.
    d = docs.select(F.split(F.lower("text"), " ").alias("toks")).filter(
        F.size("toks") >= 2
    )
    n = F.size("toks")
    pairs = F.zip_with(
        F.slice(F.col("toks"), 1, n - 1),
        F.slice(F.col("toks"), 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = (
        d.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    return bg.orderBy(F.desc("cnt"), "bigram").limit(_BIGRAM_TOPK)


# ---------------------------------------------------------------------------
# document chunking (RAG / pretraining window prep)
# ---------------------------------------------------------------------------

_CHUNK_SIZE = 200
_CHUNK_STRIDE = 150  # 50-char overlap between consecutive chunks

_CHUNK_ORACLE = f"""
WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1),
c AS (
  SELECT doc_id, text,
         unnest(range(0, CAST(floor((n - 1) / {_CHUNK_STRIDE}) AS BIGINT) + 1)) AS chunk_id
  FROM d
)
SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
       chunk_id * {_CHUNK_STRIDE} AS char_start,
       CAST(length(substr(text, CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS BIGINT), {_CHUNK_SIZE})) AS BIGINT) AS chunk_len,
       md5(substr(text, CAST(chunk_id * {_CHUNK_STRIDE} + 1 AS BIGINT), {_CHUNK_SIZE})) AS chunk_md5
FROM c
"""


@query(
    "doc_chunk_overlap",
    oracle=_CHUNK_ORACLE,
    doc="Sliding-window document chunking (size 200 chars, stride 150 "
    "-> 50-char overlap): the standard RAG-indexing / context-window "
    "prep pass. Chunk count comes from one arithmetic expression, the "
    "chunks from sequence+explode+substring — a pure row-local "
    "projection that parallelizes with the scan, no shuffle at all; "
    "chunk identity is (doc_id, chunk_id, char_start) + content md5 "
    "so downstream dedup/indexing never re-reads the text",
    tags=("text", "dataset", "chunking", "ext"),
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    n = F.length("text")
    n_chunks = (F.floor((n - 1) / _CHUNK_STRIDE) + 1).cast("int")
    chunks = docs.filter(n >= 1).select(
        "doc_id",
        "text",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_id"),
    )
    piece = F.expr(
        f"substring(text, chunk_id * {_CHUNK_STRIDE} + 1, {_CHUNK_SIZE})"
    )
    return chunks.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        (F.col("chunk_id").cast("bigint") * _CHUNK_STRIDE).alias("char_start"),
        F.length(piece).cast("bigint").alias("chunk_len"),
        F.md5(piece).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# the capstone: full curation pass
# ---------------------------------------------------------------------------

_CURATION_QUALITY_MIN = 0.5


def _curation_oracle() -> str:
    """Composed from the SAME oracle fragments the component queries
    ship (keep-canonical dedup, quality scoring, benchmark
    contamination) — the pipeline's correctness is checked against the
    composition of already-proven parts, not a re-derivation."""
    split_h = _SQL_MD5_BIGINT.format(c="k.doc_id")
    return f"""
WITH keep AS ({_KEEP_CANONICAL_ORACLE}),
q AS ({_QUALITY_ORACLE}),
c AS ({_CONTAM_ORACLE})
SELECT k.doc_id, k.lang, q.n_tokens,
       CASE WHEN {split_h} % 100 < 90 THEN 'train'
            WHEN {split_h} % 100 < 95 THEN 'val'
            ELSE 'test' END AS split
FROM keep k
JOIN q ON q.doc_id = k.doc_id
LEFT JOIN c ON c.doc_id = k.doc_id
WHERE k.doc_id >= {_BENCH_DOCS}
  AND q.quality >= {_CURATION_QUALITY_MIN}
  AND coalesce(c.contaminated, FALSE) = FALSE
"""


@query(
    "curation_pipeline",
    oracle=_curation_oracle(),
    doc="THE end-to-end curation pass a pretraining pipeline ships: "
    "near-dup dedup survivors (shingle Jaccard -> star CC -> "
    "canonical-per-component) INTERSECT quality >= 0.5 INTERSECT "
    "not-benchmark-contaminated, with the deterministic 90/5/5 split "
    "stamped on each surviving doc. Every stage is the scale-path "
    "variant of its standalone query (shared definitions, not "
    "re-implementations), and the oracle is the composition of the "
    "already-proven component oracles. At 100 TB each filter is a "
    "doc_id equi-join of survivor sets — no stage ever widens",
    tags=("dataset", "pipeline", "ext"),
)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    keep = dedup_keep_canonical(spark, sf_dir).select("doc_id", "lang")
    quality = text_quality_score(spark, sf_dir).select("doc_id", "n_tokens", "quality")
    contam = contamination_ngram(spark, sf_dir).select("doc_id", "contaminated")
    h = _md5_bigint(F.col("doc_id")) % 100
    split = F.when(h < 90, "train").when(h < 95, "val").otherwise("test")
    return (
        keep.filter(F.col("doc_id") >= _BENCH_DOCS)
        .join(quality, "doc_id")
        .filter(F.col("quality") >= _CURATION_QUALITY_MIN)
        .join(contam, "doc_id", "left")
        .filter(F.coalesce(F.col("contaminated"), F.lit(False)) == F.lit(False))
        .select("doc_id", "lang", "n_tokens", split.alias("split"))
    )


_WS_PPM = 1_000_000

_WEIGHTED_ORACLE = f"""
WITH mx AS (SELECT max(n_chars) AS m FROM documents),
keyed AS (
  SELECT d.doc_id, d.lang, d.n_chars,
         ({_SQL_MD5_BIGINT.format(c="doc_id")}) % {_WS_PPM} AS h,
         (d.n_chars * {_WS_PPM}) // mx.m AS keep_ppm
  FROM documents d CROSS JOIN mx
)
SELECT doc_id, lang, n_chars, CAST(keep_ppm AS BIGINT) AS keep_ppm
FROM keyed WHERE h < keep_ppm
"""


@query(
    "sample_weighted_hash",
    oracle=_WEIGHTED_ORACLE,
    doc="Length-weighted deterministic sampling: each doc kept with "
    "probability proportional to its n_chars (normalized by the "
    "corpus max — one 1-row broadcast aggregate), decided by the same "
    "md5 hash family as the Bernoulli sampler. All EXACT integer ppm "
    "arithmetic, so both engines keep the identical set; the "
    "importance-sampling shape for char-budgeted corpus draws "
    "(long docs proportionally more likely), still a pure per-row "
    "filter after the broadcast — pushdown-friendly at any scale",
    tags=("dataset", "sampling", "ext"),
)
def sample_weighted_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("n_chars").alias("m"))
    h = _md5_bigint(F.col("doc_id")) % _WS_PPM
    return (
        docs.crossJoin(F.broadcast(mx))
        .withColumn("keep_ppm", F.expr(f"n_chars * {_WS_PPM} div m"))
        .filter(h < F.col("keep_ppm"))
        .select("doc_id", "lang", "n_chars", F.col("keep_ppm").cast("bigint"))
    )


_BLOOM_M = 4096  # bloom bits
_BLOOM_K = 4     # hash functions (md5-salted)

_BLOOM_HASH = (
    "CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || shingle), 1, 12)) AS BIGINT)"
    f" % {_BLOOM_M}"
)

_CONTAM_BLOOM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(w) - {_CONTAM_K - 2}),
                   i -> array_to_string(w[i:i+{_CONTAM_K - 1}], ' '))) AS shingle
    FROM toks WHERE len(w) >= {_CONTAM_K}
  )
),
js AS (SELECT unnest(range(0, {_BLOOM_K})) AS j),
bloom AS (
  SELECT DISTINCT {_BLOOM_HASH} AS bit
  FROM (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_DOCS}) CROSS JOIN js
),
corpus AS (SELECT doc_id, shingle FROM sh WHERE doc_id >= {_BENCH_DOCS}),
probe AS (
  SELECT c.doc_id, c.shingle, count(bl.bit) AS n_set
  FROM corpus c CROSS JOIN js
  LEFT JOIN bloom bl ON bl.bit = {_BLOOM_HASH.replace('shingle', 'c.shingle')}
  GROUP BY c.doc_id, c.shingle
),
flags AS (
  SELECT doc_id,
         CAST(count(*) FILTER (n_set = {_BLOOM_K}) AS BIGINT) AS n_bloom_hits,
         CAST(count(*) AS BIGINT) AS n_shingles
  FROM probe GROUP BY doc_id
),
exact AS (
  SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_exact_hits
  FROM corpus c JOIN (SELECT DISTINCT shingle FROM sh WHERE doc_id < {_BENCH_DOCS}) b
    ON b.shingle = c.shingle
  GROUP BY c.doc_id
)
SELECT f.doc_id, f.n_shingles, f.n_bloom_hits,
       coalesce(e.n_exact_hits, 0) AS n_exact_hits,
       f.n_bloom_hits - coalesce(e.n_exact_hits, 0) AS n_false_positives,
       f.n_bloom_hits > 0 AS needs_verify
FROM flags f LEFT JOIN exact e ON e.doc_id = f.doc_id
"""


@query(
    "contamination_bloom",
    oracle=_CONTAM_BLOOM_ORACLE,
    doc=f"Bloom-filter contamination PREFILTER — the semi-join "
    "reduction Spark's own runtime filters apply, made explicit: the "
    f"benchmark shingle set compresses to a {_BLOOM_M}-bit bloom "
    f"({_BLOOM_K} md5-salted hashes, identical on both engines), the "
    "corpus probes the broadcast bit set in ONE scan, and only "
    "bloom-hit docs would proceed to the exact equi-join — at 100 TB "
    "that cuts the expensive verify's input by the bloom's "
    "selectivity while the bit table stays KB-sized however large the "
    "benchmark grows (vs broadcasting every benchmark shingle). "
    "Bloom guarantees no false negatives; the per-doc false-positive "
    "count (bloom hits minus exact hits, always >= 0) is the built-in "
    "FPR audit, same pattern as the sketch error columns",
    tags=("dataset", "contamination", "sketch", "ext"),
)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    k = _CONTAM_K
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    d = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w")).filter(
        F.size("w") >= k
    )
    sh = track_persist(
        d.select("doc_id", F.explode(word_shingles("w", k)).alias("shingle")).distinct()
    )
    bench = sh.filter(F.col("doc_id") < _BENCH_DOCS).select("shingle").distinct()
    corpus = sh.filter(F.col("doc_id") >= _BENCH_DOCS)
    js = F.broadcast(spark.range(0, _BLOOM_K).select(F.col("id").alias("j")))
    bit = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("j").cast("string"), F.lit("#"), F.col("shingle"))),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % _BLOOM_M
    )
    bloom = bench.crossJoin(js).select(bit.alias("bit")).distinct()
    probe = (
        corpus.crossJoin(js)
        .select("doc_id", "shingle", bit.alias("bit"))
        .join(F.broadcast(bloom).withColumn("_set", F.lit(1)), "bit", "left")
        .groupBy("doc_id", "shingle")
        .agg(F.count("_set").alias("n_set"))
    )
    flags = probe.groupBy("doc_id").agg(
        F.count(F.when(F.col("n_set") == _BLOOM_K, 1)).alias("n_bloom_hits"),
        F.count("*").alias("n_shingles"),
    )
    exact = (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_exact_hits"))
    )
    ne = F.coalesce(F.col("n_exact_hits"), F.lit(0))
    return (
        flags.join(exact, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            "n_bloom_hits",
            ne.alias("n_exact_hits"),
            (F.col("n_bloom_hits") - ne).alias("n_false_positives"),
            (F.col("n_bloom_hits") > 0).alias("needs_verify"),
        )
    )


# ---------------------------------------------------------------------------
# Gopher-style rule-based quality filtering
# ---------------------------------------------------------------------------

_GOPHER_STOPWORDS = ("the", "a", "and", "of", "to", "in")
_GOPHER_MIN_WORDS = 50
_GOPHER_MAX_WORDS = 100_000
_GOPHER_MIN_MEAN_LEN = 3.0
_GOPHER_MAX_MEAN_LEN = 10.0
_GOPHER_MIN_STOPWORDS = 2
_GOPHER_MAX_TOP_FRAC = 0.10

_SQL_STOPLIST = "(" + ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS) + ")"

# Shared CTE chain (tokens -> per-doc stats -> ROUNDED stats): the
# rule battery (text_gopher_rules) and the rule-ablation audit
# (curation_audit.curation_rule_attribution) must threshold the SAME
# rounded values, so the SQL lives once.
_GOPHER_ROUNDED_CTE = f"""toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
),
freq AS (
  SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok
),
per_doc AS (
  SELECT doc_id,
         CAST(sum(cnt) AS BIGINT) AS n_words,
         sum(len(tok) * cnt) * 1.0 / sum(cnt) AS mean_word_len_raw,
         CAST(sum(CASE WHEN tok IN {_SQL_STOPLIST} THEN cnt ELSE 0 END) AS BIGINT)
           AS stopword_hits,
         max(cnt) * 1.0 / sum(cnt) AS top_tok_frac_raw
  FROM freq GROUP BY doc_id
),
rounded AS (
  -- rounding in its OWN level so the rule predicates below cannot
  -- resolve to the raw per_doc columns (DuckDB: column beats a
  -- same-named sibling alias; Spark thresholds the rounded values)
  SELECT doc_id, n_words,
         floor(mean_word_len_raw * 1e4 + 0.5) / 1e4 AS mean_word_len,
         stopword_hits,
         floor(top_tok_frac_raw * 1e6 + 0.5) / 1e6 AS top_tok_frac
  FROM per_doc
)"""

# Per-rule fail predicates on the ROUNDED stats — one place, consumed
# by the battery oracle below and by the attribution oracle.
_GOPHER_RULE_SQL = {
    "word_count": f"(n_words < {_GOPHER_MIN_WORDS} OR n_words > {_GOPHER_MAX_WORDS})",
    "mean_word_len": f"(mean_word_len < {_GOPHER_MIN_MEAN_LEN}"
    f" OR mean_word_len > {_GOPHER_MAX_MEAN_LEN})",
    "stopwords": f"(stopword_hits < {_GOPHER_MIN_STOPWORDS})",
    "repetition": f"(top_tok_frac > {_GOPHER_MAX_TOP_FRAC})",
}

_GOPHER_ORACLE = f"""
WITH {_GOPHER_ROUNDED_CTE},
flags AS (
  SELECT doc_id, n_words, mean_word_len, stopword_hits, top_tok_frac,
         CAST({_GOPHER_RULE_SQL["word_count"]} AS INTEGER)
         + CAST({_GOPHER_RULE_SQL["mean_word_len"]} AS INTEGER)
         + CAST({_GOPHER_RULE_SQL["stopwords"]} AS INTEGER)
         + CAST({_GOPHER_RULE_SQL["repetition"]} AS INTEGER)
           AS n_rules_failed
  FROM rounded
)
SELECT doc_id, n_words, mean_word_len, stopword_hits, top_tok_frac,
       CAST(n_rules_failed AS BIGINT) AS n_rules_failed,
       n_rules_failed = 0 AS keep
FROM flags
"""


@query(
    "text_gopher_rules",
    oracle=_GOPHER_ORACLE,
    doc="Gopher-style rule-based quality battery (Rae et al. 2021 "
    "table A1, the rules the testdata can exercise): word count in "
    f"[{_GOPHER_MIN_WORDS}, {_GOPHER_MAX_WORDS}], mean word length in "
    f"[{_GOPHER_MIN_MEAN_LEN}, {_GOPHER_MAX_MEAN_LEN}], >= "
    f"{_GOPHER_MIN_STOPWORDS} stopword occurrences, and max "
    f"single-token frequency <= {_GOPHER_MAX_TOP_FRAC} (the "
    "repetition rule). Per-doc verdict with every rule input exposed "
    "plus the failure count — the auditable form a curation pipeline "
    "wants (filter + WHY). Shape: one explode + two doc_id-keyed "
    "aggregations, no window, no UDF — at 100 TB this is a single "
    "map-side-combinable pass per doc shard. Rule thresholds on the "
    "ROUNDED stats on both engines so boundary docs cannot split on "
    "float noise",
    tags=("text", "dataset", "ext"),
)
def text_gopher_rules(
    spark: SparkSession, sf_dir: str, t: DataFrame | None = None
) -> DataFrame:
    flags = gopher_rounded_frame(spark, sf_dir, t=t)
    rules = gopher_rule_exprs()
    n_failed = sum(
        (r.cast("int") for r in rules.values()), F.lit(0)
    )
    return flags.withColumn("n_rules_failed", n_failed.cast("bigint")).withColumn(
        "keep", F.col("n_rules_failed") == 0
    )


def gopher_rounded_frame(
    spark: SparkSession, sf_dir: str, t: DataFrame | None = None
) -> DataFrame:
    """Per-doc ROUNDED quality stats (the values the rule battery
    thresholds): doc_id, n_words, mean_word_len, stopword_hits,
    top_tok_frac. Mirrors ``_GOPHER_ROUNDED_CTE`` exactly. Pass ``t``
    (the _doc_token_arrays frame) to reuse an already-materialized
    tokenization — exploding the bound array column is the identical
    token stream (no empty-token filter here, matching the CTE)."""
    if t is not None:
        toks = t.select("doc_id", F.explode("toks").alias("tok"))
    else:
        docs = load(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        toks = docs.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
    freq = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    per_doc = freq.groupBy("doc_id").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        (
            F.sum(F.length("tok") * F.col("cnt")) * F.lit(1.0) / F.sum("cnt")
        ).alias("mean_word_len_raw"),
        F.sum(
            F.when(F.col("tok").isin(*_GOPHER_STOPWORDS), F.col("cnt")).otherwise(0)
        )
        .cast("bigint")
        .alias("stopword_hits"),
        (F.max("cnt") * F.lit(1.0) / F.sum("cnt")).alias("top_tok_frac_raw"),
    )
    return per_doc.select(
        "doc_id",
        "n_words",
        stable_round("mean_word_len_raw", 4).alias("mean_word_len"),
        "stopword_hits",
        stable_round("top_tok_frac_raw", 6).alias("top_tok_frac"),
    )


def gopher_rule_exprs() -> dict:
    """Boolean fail predicates keyed by rule name, over the rounded
    frame's columns — the Spark twin of ``_GOPHER_RULE_SQL``."""
    return {
        "word_count": (F.col("n_words") < _GOPHER_MIN_WORDS)
        | (F.col("n_words") > _GOPHER_MAX_WORDS),
        "mean_word_len": (F.col("mean_word_len") < _GOPHER_MIN_MEAN_LEN)
        | (F.col("mean_word_len") > _GOPHER_MAX_MEAN_LEN),
        "stopwords": F.col("stopword_hits") < _GOPHER_MIN_STOPWORDS,
        "repetition": F.col("top_tok_frac") > _GOPHER_MAX_TOP_FRAC,
    }


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing
# ---------------------------------------------------------------------------

_PPL_BUCKET_ORACLE = f"""
WITH scored AS ({_LM_ORACLE}),
with_lang AS (
  SELECT s.doc_id, d.lang, s.mean_neg_logprob
  FROM scored s JOIN documents d USING (doc_id)
),
bucketed AS (
  SELECT lang, mean_neg_logprob,
         ntile(3) OVER (PARTITION BY lang
                        ORDER BY mean_neg_logprob, doc_id) AS tile
  FROM with_lang
)
SELECT lang,
       CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       floor(min(mean_neg_logprob) * 1e4 + 0.5) / 1e4 AS min_nlp,
       floor(max(mean_neg_logprob) * 1e4 + 0.5) / 1e4 AS max_nlp,
       floor(sum(CAST(floor(mean_neg_logprob * 1e4 + 0.5) AS BIGINT)) * 1.0
             / count(*) + 0.5) / 1e4 AS mean_nlp
FROM bucketed
GROUP BY lang, tile
"""


@query(
    "text_perplexity_bucket",
    oracle=_PPL_BUCKET_ORACLE,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): score "
    "every document with the corpus-unigram mean -log2 p (the "
    "text_unigram_logprob operator), then split each language into "
    "head/middle/tail TERCILES by score — the standard way quality "
    "tiers are cut before mixing pretraining data. ntile(3) over a "
    "lang-PARTITIONED window (deterministic doc_id tiebreak, no "
    "global sort); per-bucket doc counts + min/max/mean score so the "
    "cut points are auditable. Bucket means aggregate the 1e-4-grid "
    "scores as exact integers (sum of bigints, one final division) so "
    "the cross-engine hash cannot split on summation order. At 100 TB "
    "the terciles come from approx quantiles of the score histogram "
    "instead of a per-lang window, the scoring pass is unchanged",
    tags=("text", "dataset", "ext"),
)
def text_perplexity_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    scored = text_unigram_logprob(spark, sf_dir)
    docs = load(spark, sf_dir, "documents").select("doc_id", "lang")
    w = Window.partitionBy("lang").orderBy("mean_neg_logprob", "doc_id")
    bucketed = (
        scored.join(docs, "doc_id")
        .withColumn("tile", F.ntile(3).over(w))
    )
    bucket_name = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    grid = F.floor(F.col("mean_neg_logprob") * 1e4 + 0.5).cast("bigint")
    return (
        bucketed.groupBy("lang", F.col("tile"))
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            stable_round(F.min("mean_neg_logprob"), 4).alias("min_nlp"),
            stable_round(F.max("mean_neg_logprob"), 4).alias("max_nlp"),
            (
                F.floor(F.sum(grid) * F.lit(1.0) / F.count("*") + 0.5) / F.lit(1e4)
            ).alias("mean_nlp"),
        )
        .select(
            "lang",
            bucket_name.alias("bucket"),
            "n_docs",
            "min_nlp",
            "max_nlp",
            "mean_nlp",
        )
    )


# ---------------------------------------------------------------------------
# token-budget sequence packing (pretraining "sample packing")
# ---------------------------------------------------------------------------

_PACK_SEQ_TOKENS = 128  # fixed token budget per training sequence
_PACK_SEQS_PER_SHARD = 8  # sequences per output shard file

_PACK_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
cum AS (
  SELECT doc_id, n_tok,
         CAST(sum(n_tok) OVER (ORDER BY n_tok DESC, doc_id
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS en
  FROM sized
),
spans AS (
  SELECT doc_id, en - n_tok AS st, en FROM cum WHERE n_tok > 0
),
ex AS (
  SELECT doc_id, st, en,
         unnest(range(st // {_PACK_SEQ_TOKENS},
                      (en - 1) // {_PACK_SEQ_TOKENS} + 1)) AS seq_id
  FROM spans
)
SELECT CAST(seq_id // {_PACK_SEQS_PER_SHARD} AS BIGINT) AS shard_id,
       CAST(seq_id AS BIGINT) AS seq_id,
       doc_id,
       CAST(greatest(0, seq_id * {_PACK_SEQ_TOKENS} - st) AS BIGINT) AS tok_offset,
       CAST(least(en, (seq_id + 1) * {_PACK_SEQ_TOKENS})
            - greatest(st, seq_id * {_PACK_SEQ_TOKENS}) AS BIGINT) AS n_tokens
FROM ex
"""


@query(
    "pack_token_sequences",
    oracle=_PACK_ORACLE,
    doc="Token-budget sequence packing — the reference's dynamic batch "
    "packing (dataLoader.py:89-108, W7) lifted to the token level: "
    "concatenate the corpus in a deterministic length-desc order and "
    f"chunk it into fixed {_PACK_SEQ_TOKENS}-token training sequences "
    "(GPT-style sample packing; docs straddling a boundary are split "
    "and emit one row per overlapped sequence with the in-doc offset). "
    f"Output: (shard_id [{_PACK_SEQS_PER_SHARD} seqs/shard], seq_id, "
    "doc_id, tok_offset, n_tokens) — the manifest a tokenizer shard "
    "writer consumes. Scale shape: the ONLY ordered step is the global "
    "running token sum, which runs through plans/two_phase.global_cumsum "
    "(bucket-local cumsum + per-bucket offsets above the crossover — "
    "never a single-partition window); everything after is stateless "
    "integer arithmetic + one explode, no UDF, no text in any shuffle "
    "(the packing plan carries doc ids and token counts only).",
    tags=("dataset", "W7", "ext"),
)
def pack_token_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.two_phase import global_cumsum, parquet_rows

    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    ).filter(F.col("n_tok") > 0)
    B, S = _PACK_SEQ_TOKENS, _PACK_SEQS_PER_SHARD
    cum = global_cumsum(
        sized,
        "n_tok",
        "n_tok",
        tiebreak_cols=("doc_id",),
        descending=True,
        out_col="en",
        n_upper=parquet_rows(sf_dir, "documents"),
    )
    spans = cum.select(
        "doc_id",
        (F.col("en") - F.col("n_tok")).alias("st"),
        F.col("en").cast("bigint").alias("en"),
    )
    ex = spans.select(
        "doc_id",
        "st",
        "en",
        F.explode(
            F.sequence(
                F.floor(F.col("st") / B).cast("bigint"),
                F.floor((F.col("en") - 1) / B).cast("bigint"),
            )
        ).alias("seq_id"),
    )
    return ex.select(
        F.floor(F.col("seq_id") / S).cast("bigint").alias("shard_id"),
        F.col("seq_id").cast("bigint").alias("seq_id"),
        "doc_id",
        F.greatest(F.lit(0), F.col("seq_id") * B - F.col("st"))
        .cast("bigint")
        .alias("tok_offset"),
        (
            F.least(F.col("en"), (F.col("seq_id") + 1) * B)
            - F.greatest(F.col("st"), F.col("seq_id") * B)
        )
        .cast("bigint")
        .alias("n_tokens"),
    )


# ---------------------------------------------------------------------------
# line-level corpus dedup (CCNet / Lee et al. repeated-line removal)
# ---------------------------------------------------------------------------

_LINE_W = 3  # tokens per pseudo-line (the corpus has no newlines)
_LINE_DUP_MIN = 5  # corpus-wide occurrence count that marks boilerplate

_LINE_DEDUP_ORACLE = f"""
WITH sized AS (
  SELECT doc_id, w, CAST(ceil(len(w) * 1.0 / {_LINE_W}) AS BIGINT) AS n_lines
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
lines AS (
  SELECT doc_id, p,
         array_to_string(w[p * {_LINE_W} + 1 : p * {_LINE_W} + {_LINE_W}], ' ')
           AS line
  FROM (SELECT doc_id, w, unnest(range(0, n_lines)) AS p FROM sized)
),
dup AS (
  SELECT line FROM (SELECT line, count(*) AS c FROM lines GROUP BY line)
  WHERE c >= {_LINE_DUP_MIN}
),
re AS (
  SELECT doc_id, string_agg(line, ' ' ORDER BY p) AS text_kept,
         count(*) AS n_kept
  FROM lines WHERE line NOT IN (SELECT line FROM dup)
  GROUP BY doc_id
)
SELECT s.doc_id, s.n_lines,
       CAST(s.n_lines - coalesce(r.n_kept, 0) AS BIGINT) AS n_dup_lines,
       floor((s.n_lines - coalesce(r.n_kept, 0)) * 1.0 / s.n_lines * 1e6 + 0.5)
         / 1e6 AS removed_frac,
       coalesce(r.text_kept, '') AS text_kept
FROM sized s LEFT JOIN re r USING (doc_id)
"""


@query(
    "dedup_line_corpus",
    oracle=_LINE_DEDUP_ORACLE,
    doc="Line-level corpus dedup (CCNet Wenzek et al. 2020 §3.1 / Lee "
    "et al. 2022 repeated-line removal — the curation step between the "
    "reference's repeated-content quirks and doc-level dedup): split "
    f"each doc into {_LINE_W}-token pseudo-lines (the synthetic corpus "
    "has no newlines; the operator shape is identical), count each "
    "line's occurrences CORPUS-WIDE, drop lines appearing >= "
    f"{_LINE_DUP_MIN} times (boilerplate), reassemble docs in original "
    "line order with an auditable removed-fraction column. Scale shape: "
    "the corpus-wide count groups 128-bit md5 line digests, never line "
    "text; the duplicated set joins back to (doc_id, position, digest) "
    "triples — the only stage that shuffles text is the final doc_id "
    "reassembly join, the irreducible cost of emitting rewritten docs. "
    "No UDF; slice/transform/filter higher-order functions capture the "
    "materialized token array (not a re-evaluated split).",
    tags=("dedup", "dataset", "ext"),
)
def dedup_line_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    L, T = _LINE_W, _LINE_DUP_MIN
    docs = load(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        F.split("text", " ").alias("w"),
    ).withColumn("n_lines", F.ceil(F.size("w") / F.lit(L)).cast("bigint"))
    lines = sized.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0).cast("bigint"), F.col("n_lines") - 1)).alias("p"),
        "w",
    ).select(
        "doc_id",
        "p",
        F.array_join(F.slice("w", F.col("p") * L + 1, F.lit(L)), " ").alias("line"),
    )
    # corpus-wide occurrence count over digests — text never shuffles
    hashed = lines.select("doc_id", "p", "line", F.md5("line").alias("h"))
    dup = (
        hashed.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= T)
        .select("h")
    )
    kept = hashed.join(dup, "h", "left_anti")
    re = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "line"))),
                lambda s: s["line"],
            ),
            " ",
        ).alias("text_kept"),
        F.count("*").alias("n_kept"),
    )
    joined = sized.select("doc_id", "n_lines").join(re, "doc_id", "left")
    nk = F.coalesce(F.col("n_kept"), F.lit(0))
    return joined.select(
        "doc_id",
        "n_lines",
        (F.col("n_lines") - nk).cast("bigint").alias("n_dup_lines"),
        (
            F.floor((F.col("n_lines") - nk) * F.lit(1.0) / F.col("n_lines") * 1e6 + 0.5)
            / 1e6
        ).alias("removed_frac"),
        F.coalesce(F.col("text_kept"), F.lit("")).alias("text_kept"),
    )


# ---------------------------------------------------------------------------
# TalkSet generation as ONE e2e flow (generate_TalkSet.py:306-391)
# ---------------------------------------------------------------------------

_TK_CAP = 600  # 6 s fusion cap in cents (generate_TalkSet.py:376-387)
_TK_LIMIT = 1000  # list head, the [:30000] analog (F9)
_TK_S_MAX = 300  # LRS3_S <= 3 s filter in cents (F8)


def _tk_sql_u(tag: str, mod: int) -> str:
    return (
        f"CAST(('0x' || substr(md5('{tag}' || CAST(event_id AS VARCHAR)), 1, 12))"
        f" AS BIGINT) % {mod}"
    )


def _tk_layout_sql(pool: str, variant: str) -> str:
    """TFAudio/TSilence/FSilence two-sided layout: changepoint at
    len*(0.25 + u*0.5) on the cents grid, T-first when the hash bit is
    1 (generate_TalkSet.py:145-168 seed branch), exact integer math."""
    u = _tk_sql_u(variant + "#", 10000)
    seed = _tk_sql_u(variant + "@", 2)
    return f"""
  SELECT '{variant}' AS variant, event_id AS src_id, event_id AS audio_id,
         user_id AS video_id, len,
         CASE WHEN seed = 1 THEN 0 ELSE cp END AS st,
         CASE WHEN seed = 1 THEN cp ELSE len END AS et,
         CASE WHEN seed = 1 THEN cp ELSE 0 END AS sf,
         CASE WHEN seed = 1 THEN len ELSE cp END AS ef
  FROM (
    SELECT *, (len * (250000 + 50 * ({u}))) // 1000000 AS cp,
           {seed} AS seed
    FROM {pool}
  )
"""


_TALKSET_ORACLE = f"""
WITH ev AS (
  SELECT event_id, user_id, event_type,
         CAST(floor(value * 100) AS BIGINT) % 1000 + 1 AS len
  FROM events
),
t_pool AS (SELECT event_id, user_id, len FROM ev WHERE event_type = 'click'),
f_pool AS (SELECT event_id, user_id, len FROM ev WHERE event_type = 'error'),
st_pool AS (
  SELECT event_id, user_id, len FROM ev WHERE event_type = 'view'
  ORDER BY event_id LIMIT {_TK_LIMIT}
),
s_pool AS (
  SELECT event_id, user_id, len FROM ev
  WHERE event_type = 'view' AND len <= {_TK_S_MAX}
  ORDER BY event_id LIMIT {_TK_LIMIT}
),
ta AS (
  SELECT 'TAudio' AS variant, event_id AS src_id, event_id AS audio_id,
         user_id AS video_id, len, 0 AS st, len AS et, 0 AS sf, 0 AS ef
  FROM t_pool
),
fa AS (
  SELECT 'FAudio' AS variant, event_id AS src_id, event_id AS audio_id,
         user_id AS video_id, len, 0 AS st, 0 AS et, 0 AS sf, len AS ef
  FROM f_pool
),
tf AS ({_tk_layout_sql("f_pool", "TFAudio")}),
tsl AS ({_tk_layout_sql("st_pool", "TSilence")}),
fs_pick AS (
  SELECT s.event_id, s.user_id, s.len,
         d.event_id AS donor_id
  FROM s_pool s JOIN t_pool d ON d.len >= s.len
  QUALIFY row_number() OVER (PARTITION BY s.event_id
                             ORDER BY d.len, d.event_id) = 1
),
fs AS (
  SELECT 'FSilence' AS variant, event_id AS src_id, donor_id AS audio_id,
         user_id AS video_id, len,
         CASE WHEN seed = 1 THEN 0 ELSE cp END AS st,
         CASE WHEN seed = 1 THEN cp ELSE len END AS et,
         CASE WHEN seed = 1 THEN cp ELSE 0 END AS sf,
         CASE WHEN seed = 1 THEN len ELSE cp END AS ef
  FROM (
    SELECT *, (len * (250000 + 50 * ({_tk_sql_u("FSilence#", 10000)})))
              // 1000000 AS cp,
           {_tk_sql_u("FSilence@", 2)} AS seed
    FROM fs_pick
  )
),
fused AS (
  SELECT variant, src_id, audio_id, video_id,
         CAST(least(len, {_TK_CAP}) AS BIGINT) AS len_cents,
         CAST(least(st, {_TK_CAP}) AS BIGINT) AS start_t,
         CAST(least(et, {_TK_CAP}) AS BIGINT) AS end_t,
         CAST(least(sf, {_TK_CAP}) AS BIGINT) AS start_f,
         CAST(least(ef, {_TK_CAP}) AS BIGINT) AS end_f
  FROM (
    SELECT * FROM ta UNION ALL SELECT * FROM fa UNION ALL
    SELECT * FROM tf UNION ALL SELECT * FROM tsl UNION ALL SELECT * FROM fs
  )
),
numbered AS (
  SELECT *, CAST(row_number() OVER (ORDER BY shuf, variant, src_id) - 1
                 AS BIGINT) AS num
  FROM (
    SELECT *, CAST(('0x' || substr(md5('shuffle' || variant || '#'
                 || CAST(src_id AS VARCHAR)), 1, 12)) AS BIGINT) AS shuf
    FROM fused
  )
)
SELECT variant, src_id, audio_id, video_id, len_cents,
       start_t, end_t, start_f, end_f, num,
       CASE WHEN num % 100 < 90 THEN 'train' ELSE 'test' END AS split
FROM numbered
"""


@query(
    "talkset_generate",
    oracle=_TALKSET_ORACLE,
    doc="The reference's ENTIRE TalkSet generation as one declarative "
    "flow (TalkSet/generate_TalkSet.py:306-391), composing the proven "
    "pieces the way curation_pipeline composes the text ops: label-"
    "split source pools (read_Vox_lines), the F8 <=3 s filter and F9 "
    "list-head limit, the five variant projections (TAudio/FAudio/"
    "TFAudio/TSilence/FSilence) with the changepoint-at-len*(0.25+"
    "0.5u) two-sided layouts (:145-168) on an EXACT integer cents "
    "grid, the J8 length-constrained donor pick for FSilence "
    "(:219-224, resample-until-long-enough replaced by the "
    "deterministic smallest-qualifying rule), the 6 s Fusion cap "
    "(F10, :376-387) and the deterministic md5 shuffle + modulo "
    "train/test split (U2, :388-391). Every RNG call becomes an md5 "
    "hash, so the set regenerates byte-identically (the reference "
    "README calls its own output non-reproducible). Scale shape: the "
    "donor pick never theta-joins — donor lengths live on a bounded "
    "1/100-second grid, so a <=1000-row filled grid (suffix-first "
    "window over the grid only) broadcast-joins to the pickers; the "
    "shuffle rank is the two-phase global_rank; everything else is "
    "stateless projections + one union",
    tags=("dataset", "pipeline", "J8", "U2", "F8", "F9", "F10", "ext"),
)
def talkset_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.two_phase import global_rank, one_partition_col, parquet_rows

    CAP, LIM, SMAX = _TK_CAP, _TK_LIMIT, _TK_S_MAX
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "event_type",
        (F.floor(F.col("value") * 100).cast("bigint") % 1000 + 1).alias("len"),
    )
    t_pool = ev.filter(F.col("event_type") == "click").drop("event_type")
    f_pool = ev.filter(F.col("event_type") == "error").drop("event_type")
    view = ev.filter(F.col("event_type") == "view").drop("event_type")
    nu_ev = parquet_rows(sf_dir, "events")

    def head(pool: DataFrame) -> DataFrame:
        # the [:30000] list head as rank<=K over unique event_id: a
        # mid-plan orderBy().limit() would compile to Sort +
        # GlobalLimit over Exchange SinglePartition — the exact hazard
        # the two-phase rank avoids
        return (
            global_rank(pool, "event_id", out_col="_hr", n_upper=nu_ev)
            .filter(F.col("_hr") <= LIM)
            .drop("_hr")
        )

    st_pool = head(view)
    s_pool = head(view.filter(F.col("len") <= SMAX))

    def u_of(tag: str, mod: int):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("event_id").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint")
            % mod
        )

    def layout(pool: DataFrame, variant: str, audio_id=None) -> DataFrame:
        u = u_of(variant + "#", 10000)
        seed = u_of(variant + "@", 2)
        cp = F.expr("(len * (250000 + 50 * _u)) div 1000000")
        base = pool.withColumn("_u", u).withColumn("_seed", seed).withColumn(
            "_cp", cp
        )
        t_first = F.col("_seed") == 1
        return base.select(
            F.lit(variant).alias("variant"),
            F.col("event_id").alias("src_id"),
            (audio_id if audio_id is not None else F.col("event_id")).alias(
                "audio_id"
            ),
            F.col("user_id").alias("video_id"),
            "len",
            F.when(t_first, F.lit(0)).otherwise(F.col("_cp")).alias("st"),
            F.when(t_first, F.col("_cp")).otherwise(F.col("len")).alias("et"),
            F.when(t_first, F.col("_cp")).otherwise(F.lit(0)).alias("sf"),
            F.when(t_first, F.col("len")).otherwise(F.col("_cp")).alias("ef"),
        )

    zero = F.lit(0).cast("bigint")
    ta = t_pool.select(
        F.lit("TAudio").alias("variant"),
        F.col("event_id").alias("src_id"),
        F.col("event_id").alias("audio_id"),
        F.col("user_id").alias("video_id"),
        "len",
        zero.alias("st"), F.col("len").alias("et"),
        zero.alias("sf"), zero.alias("ef"),
    )
    fa = f_pool.select(
        F.lit("FAudio").alias("variant"),
        F.col("event_id").alias("src_id"),
        F.col("event_id").alias("audio_id"),
        F.col("user_id").alias("video_id"),
        "len",
        zero.alias("st"), zero.alias("et"),
        zero.alias("sf"), F.col("len").alias("ef"),
    )
    tf = layout(f_pool, "TFAudio")
    tsl = layout(st_pool, "TSilence")

    # J8 donor pick, grid form: donor lengths live on the bounded
    # 1..1000 cents grid -> fill each grid point with the smallest
    # qualifying (donor_len, donor_id) via ONE suffix-first window over
    # the <=1000-row grid, then broadcast-join the pickers. Never a
    # theta join, never a donor-sized window.
    dsum = t_pool.groupBy(F.col("len").alias("dlen")).agg(
        F.min("event_id").alias("donor_id")
    )
    grid = spark.range(1, 1001).select(F.col("id").alias("len"))
    g = grid.join(dsum.withColumnRenamed("dlen", "len"), "len", "left")
    gw = (
        Window.partitionBy(one_partition_col())
        .orderBy("len")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    donor = F.first(
        F.when(
            F.col("donor_id").isNotNull(),
            F.struct(F.col("donor_id").alias("donor_id")),
        ),
        ignorenulls=True,
    ).over(gw)
    filled = (
        g.withColumn("_d", donor)
        .filter(F.col("_d").isNotNull())
        .select("len", F.col("_d.donor_id").alias("donor_id"))
    )
    fs_pick = s_pool.join(F.broadcast(filled), "len").select(
        "event_id", "user_id", "len", "donor_id"
    )
    fs = layout(fs_pick, "FSilence", audio_id=F.col("donor_id"))

    fused = ta.unionByName(fa).unionByName(tf).unionByName(tsl).unionByName(fs)
    capped = fused.select(
        "variant",
        "src_id",
        "audio_id",
        "video_id",
        F.least("len", F.lit(CAP)).cast("bigint").alias("len_cents"),
        F.least("st", F.lit(CAP)).cast("bigint").alias("start_t"),
        F.least("et", F.lit(CAP)).cast("bigint").alias("end_t"),
        F.least("sf", F.lit(CAP)).cast("bigint").alias("start_f"),
        F.least("ef", F.lit(CAP)).cast("bigint").alias("end_f"),
    )
    shuf = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit("shuffle"),
                    F.col("variant"),
                    F.lit("#"),
                    F.col("src_id").cast("string"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    nu = parquet_rows(sf_dir, "events")
    ranked = global_rank(
        capped.withColumn("_shuf", shuf),
        "_shuf",
        tiebreak_cols=("variant", "src_id"),
        out_col="_rn",
        n_upper=5 * nu if nu else None,
    )
    num = (F.col("_rn") - 1).cast("bigint")
    return ranked.select(
        "variant",
        "src_id",
        "audio_id",
        "video_id",
        "len_cents",
        "start_t",
        "end_t",
        "start_f",
        "end_f",
        num.alias("num"),
        F.when(num % 100 < 90, F.lit("train")).otherwise(F.lit("test")).alias("split"),
    )


# ---------------------------------------------------------------------------
# BPE merge step (round 6): within-word symbol-pair statistics,
# vocabulary-first
# ---------------------------------------------------------------------------

_BPE_TOPK = 20

_BPE_ORACLE = f"""
WITH words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
),
vocab AS (
  -- THE BPE trick: compress the corpus to its vocabulary first;
  -- pair statistics are per distinct word, weighted by frequency
  SELECT word, CAST(count(*) AS BIGINT) AS wc
  FROM words WHERE len(word) >= 2 GROUP BY word
),
pairs AS (
  SELECT substr(word, CAST(i AS INTEGER), 1) AS left_sym,
         substr(word, CAST(i + 1 AS INTEGER), 1) AS right_sym,
         wc
  FROM vocab, unnest(range(1, len(word))) AS u(i)
)
SELECT left_sym, right_sym, CAST(sum(wc) AS BIGINT) AS pair_count
FROM pairs GROUP BY left_sym, right_sym
ORDER BY pair_count DESC, left_sym, right_sym LIMIT {_BPE_TOPK}
"""


@query(
    "bpe_merge_step",
    oracle=_BPE_ORACLE,
    doc="One BPE merge iteration (Sennrich et al.), vocabulary-first: "
    "the corpus collapses to (word, count) FIRST — the classic BPE "
    "optimization, and the 100 TB one: pair counting runs over the "
    "vocab (bounded, Zipf-capped) instead of every corpus token, so "
    "a 100x bigger corpus with the same vocabulary does the same "
    "pair work after one map-side-combinable word count. Within each "
    "distinct word, adjacent single-char symbol pairs weighted by "
    "word frequency; top-20 pairs = the candidate merge table, row 1 "
    "the merge BPE would apply. Pure higher-order functions + two "
    "aggs + TakeOrderedAndProject, no UDF",
    tags=("text", "tokenize", "ext"),
)
def bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
    )
    vocab = words.groupBy("word").agg(F.count("*").cast("bigint").alias("wc"))
    pairs = vocab.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> struct(substr(word, i, 1) AS left_sym, "
                "substr(word, i + 1, 1) AS right_sym))"
            )
        ).alias("pr"),
        "wc",
    ).select("pr.left_sym", "pr.right_sym", "wc")
    return (
        pairs.groupBy("left_sym", "right_sym")
        .agg(F.sum("wc").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), "left_sym", "right_sym")
        .limit(_BPE_TOPK)
    )


# ---------------------------------------------------------------------------
# BPE vocabulary trainer (round 8): k merge rounds, vocabulary-first
# ---------------------------------------------------------------------------

_BPE_MERGES = 20   # merge rounds learned
_BPE_VOCAB = 2000  # rare-word prune: top-V words by (count DESC, word)


def _bpe_chain_cte() -> str:
    """Generated DuckDB chain for _BPE_MERGES exact BPE rounds (the
    _ivf_kmeans_cte technique): each round counts adjacent symbol
    pairs over the capped vocabulary, picks the argmax under
    (count DESC, left, right), and applies the merge with a
    left-to-right string fold (list_reduce over chr(31)-separated
    symbols) whose semantics on runs — merge, skip the consumed
    symbol, continue — is canonical BPE. States are MATERIALIZED:
    each v{k} is referenced twice (pair count + next state) and
    naive inlining would expand the 20-round chain exponentially.
    Ends with a trailing comma so callers can append further CTEs."""
    sep = "chr(31)"
    parts = [
        f"""words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents
),
vocab AS (
  SELECT word, CAST(count(*) AS BIGINT) AS wc
  FROM words WHERE len(word) >= 2 GROUP BY word
  ORDER BY wc DESC, word LIMIT {_BPE_VOCAB}
),
v0 AS MATERIALIZED (
  SELECT word, wc,
         {sep} || array_to_string(list_transform(range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INTEGER), 1)), {sep}) || {sep} AS enc
  FROM vocab
),"""
    ]
    for k in range(_BPE_MERGES):
        parts.append(
            f"""pc{k} AS (
  SELECT l, r, CAST(sum(wc) AS BIGINT) AS cnt FROM (
    SELECT syms[CAST(i AS INTEGER)] AS l, syms[CAST(i + 1 AS INTEGER)] AS r, wc
    FROM (SELECT wc, string_split(trim(enc, {sep}), {sep}) AS syms FROM v{k}),
         unnest(range(1, len(syms))) AS u(i)
  ) GROUP BY l, r
),
m{k} AS MATERIALIZED (SELECT l, r, cnt FROM pc{k} ORDER BY cnt DESC, l, r LIMIT 1),
v{k + 1} AS MATERIALIZED (
  SELECT word, wc,
         list_reduce(list_prepend({sep}, string_split(trim(enc, {sep}), {sep})),
           (acc, s) -> CASE WHEN ends_with(acc, {sep} || m.l || {sep}) AND s = m.r
                       THEN substr(acc, 1, len(acc) - 1) || m.r || {sep}
                       ELSE acc || s || {sep} END) AS enc
  FROM v{k} CROSS JOIN m{k} m
),"""
        )
    return "\n".join(parts)


def _bpe_vocab_cte() -> str:
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({k + 1} AS INTEGER) AS merge_rank, l AS left_sym, "
        f"r AS right_sym, l || r AS merged, cnt AS pair_count FROM m{k}"
        for k in range(_BPE_MERGES)
    )
    return f"WITH {_bpe_chain_cte().rstrip(',')}\n{sel}"


@query(
    "bpe_vocab_train",
    oracle=_bpe_vocab_cte(),
    doc=f"BPE vocabulary TRAINING (Sennrich et al.): bpe_merge_step's "
    f"single candidate table iterated to {_BPE_MERGES} learned merges "
    "with deterministic tie-breaks (count DESC, then lexicographic "
    "pair) — the real tokenizer-training loop whose output merge "
    "table a dataLoader-style corpus-prep arm consumes. Vocabulary-"
    "first like the single step, plus the second real-trainer "
    f"optimization: a top-{_BPE_VOCAB} rare-word prune (count DESC, "
    "word), so merge rounds run over a BOUNDED vocab however large "
    "the corpus. Merge application is a left-to-right fold — merge, "
    "consume, continue — exactly canonical BPE on runs ([a,a,a,a] + "
    "(a,a) -> [aa,aa], not the string-replace trap). Scale: the only "
    "distributed work is the map-side-combinable word count; the "
    f"{_BPE_MERGES} rounds run driver-side over the capped vocab "
    "(bounded-collect class, the _ivf_centroids precedent — a chain "
    "of 60 tiny Spark stages would add scheduling latency, not "
    "scalability). The oracle runs the identical fold as a generated "
    "20-round MATERIALIZED-CTE chain, all-integer counts and exact "
    "string ops, so parity is bit-level by construction",
    tags=("text", "tokenize", "dataset", "ext"),
)
def bpe_vocab_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.createDataFrame(
        _bpe_train(spark, sf_dir),
        "merge_rank int, left_sym string, right_sym string, "
        "merged string, pair_count bigint",
    )


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """The distributed word count + driver-side merge loop shared by
    bpe_vocab_train (which returns the merge table) and
    bpe_encode_corpus (which applies it distributed)."""
    words = (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
    )
    vocab_rows = (
        words.groupBy("word")
        .agg(F.count("*").cast("bigint").alias("wc"))
        .orderBy(F.desc("wc"), "word")
        .limit(_BPE_VOCAB)
        .collect()
    )
    vocab = [(list(r["word"]), int(r["wc"])) for r in vocab_rows]
    merges: list[tuple] = []
    for rank in range(1, _BPE_MERGES + 1):
        counts: dict[tuple[str, str], int] = {}
        for syms, wc in vocab:
            for i in range(len(syms) - 1):
                pr = (syms[i], syms[i + 1])
                counts[pr] = counts.get(pr, 0) + wc
        if not counts:
            break  # no pairs left; the oracle's m{k} goes empty too
        (left, right), cnt = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merged = left + right
        merges.append((rank, left, right, merged, cnt))
        # the same left-to-right fold as the oracle: a just-merged
        # symbol (left+right) can never equal `left` (right is never
        # empty), so no re-merge within the pass
        vocab = [
            (_bpe_apply(syms, left, right, merged), wc) for syms, wc in vocab
        ]
    return merges


def _bpe_apply(
    syms: list[str], left: str, right: str, merged: str
) -> list[str]:
    out: list[str] = []
    for s in syms:
        if out and out[-1] == left and s == right:
            out[-1] = merged
        else:
            out.append(s)
    return out


_BPE_SEP = chr(31)


def _bpe_encode_cte() -> str:
    """The training chain plus the APPLY side: every distinct corpus
    word (any length — the trainer's len>=2 floor only gates what
    merges are learned FROM) runs the learned merges in order, then
    per-doc token counts join the word-level table. A LEFT JOIN ON
    TRUE per round makes an empty m{k} (merges exhausted) a no-op on
    both engines, matching the Spark loop's break."""
    sep = "chr(31)"
    parts = [_bpe_chain_cte()]
    parts.append(
        f"""allw AS (
  SELECT DISTINCT word FROM words WHERE word <> ''
),
w0 AS MATERIALIZED (
  SELECT word,
         {sep} || array_to_string(list_transform(range(1, len(word) + 1),
             i -> substr(word, CAST(i AS INTEGER), 1)), {sep}) || {sep} AS enc
  FROM allw
),"""
    )
    for k in range(_BPE_MERGES):
        parts.append(
            f"""w{k + 1} AS MATERIALIZED (
  SELECT word,
         CASE WHEN m.l IS NULL THEN w.enc ELSE
         list_reduce(list_prepend({sep}, string_split(trim(w.enc, {sep}), {sep})),
           (acc, s) -> CASE WHEN ends_with(acc, {sep} || m.l || {sep}) AND s = m.r
                       THEN substr(acc, 1, len(acc) - 1) || m.r || {sep}
                       ELSE acc || s || {sep} END) END AS enc
  FROM w{k} w LEFT JOIN m{k} m ON TRUE
),"""
        )
    parts.append(
        f"""tok AS (
  SELECT word,
         CAST(len(string_split(trim(enc, {sep}), {sep})) AS BIGINT) AS n_tok
  FROM w{_BPE_MERGES}
),
dw AS (
  SELECT doc_id, word FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS word
    FROM documents
  ) WHERE word <> ''
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens,
       CAST((2 * sum(n_tok) * 1000000 + count(*)) // (2 * count(*))
            AS BIGINT) AS fertility_ppm
FROM dw JOIN tok USING (word)
GROUP BY doc_id"""
    )
    chain = "\n".join(parts[:-1])  # ends with a comma: tok/dw continue it
    return f"WITH {chain}\n{parts[-1]}"


def bpe_token_count_col(word_col, merges: list[tuple]):
    """Token count of one word under the learned merges, as a pure
    column expression: char-split encode, then each merge applied as
    an in-row left-to-right string fold — chained, so a whole merge
    table costs zero shuffles. Shared by the batch apply query and
    the streaming scorer (identical expression = parity by
    construction)."""
    sep = F.lit(_BPE_SEP)
    enc = F.concat(
        sep,
        F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length(word_col)),
                lambda i: F.substring(word_col, i, F.lit(1)),
            ),
            _BPE_SEP,
        ),
        sep,
    )

    def _merge_fold(left: str, right: str):
        ends = F.lit(_BPE_SEP + left + _BPE_SEP)

        def f(acc, s):
            return F.when(
                acc.endswith(ends) & (s == F.lit(right)),
                F.concat(
                    acc.substr(F.lit(1), F.length(acc) - 1),
                    F.lit(right + _BPE_SEP),
                ),
            ).otherwise(F.concat(acc, s, sep))

        return f

    for _rank, left, right, _merged, _cnt in merges:
        syms = F.filter(F.split(enc, _BPE_SEP), lambda x: x != F.lit(""))
        enc = F.aggregate(syms, sep, _merge_fold(left, right))
    return F.size(
        F.filter(F.split(enc, _BPE_SEP), lambda x: x != F.lit(""))
    ).cast("bigint")



@query(
    "bpe_encode_corpus",
    oracle=_bpe_encode_cte(),
    doc="BPE tokenizer APPLY — the consumer side of bpe_vocab_train: "
    f"the {_BPE_MERGES} learned merges run IN ORDER over every "
    "distinct corpus word (vocabulary-first: merge application costs "
    "the vocab, not the corpus), then per-document word occurrences "
    "join the word->token-count table for n_words / n_tokens / "
    "half-up-integer fertility ppm — the train-before-you-tokenize "
    "report that prices a learned vocabulary against the corpus it "
    "will encode. Shape: the trainer's map-side-combinable word count "
    "+ bounded driver loop, then a DISTINCT over words, 20 chained "
    "in-row string folds (no shuffle between merges — a merge table "
    "is 20 broadcast literals), one word-keyed join (the TF-IDF "
    "shape) and one doc-keyed aggregation. The oracle extends the "
    "trainer's MATERIALIZED-CTE chain with the identical fold per "
    "round; LEFT JOIN ON TRUE makes merges-exhausted a no-op on both "
    "engines",
    tags=("text", "tokenize", "dataset", "ext"),
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = _bpe_train(spark, sf_dir)

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    dw = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("word")
    ).filter(F.col("word") != "")
    allw = dw.select("word").distinct()

    tok = allw.select(
        "word", bpe_token_count_col(F.col("word"), merges).alias("n_tok")
    )
    agg = dw.join(tok, "word").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_words"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )
    return agg.select(
        "doc_id",
        "n_words",
        "n_tokens",
        F.expr("(2 * n_tokens * 1000000 + n_words) div (2 * n_words)")
        .cast("bigint")
        .alias("fertility_ppm"),
    )


# ---------------------------------------------------------------------------
# Market-basket pair lift (round 6): a-priori pair mining over orders
# ---------------------------------------------------------------------------

_MB_MIN_ITEM = 10  # min orders containing an item (a-priori prefilter)
_MB_MIN_PAIR = 3  # min orders containing the pair

_BASKET_ORACLE = f"""
WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
tot AS (SELECT count(DISTINCT o) AS n_orders FROM b),
freq AS (
  SELECT p, CAST(count(*) AS BIGINT) AS item_cnt
  FROM b GROUP BY p HAVING count(*) >= {_MB_MIN_ITEM}
),
fb AS (SELECT b.o, b.p, f.item_cnt FROM b JOIN freq f USING (p)),
pairs AS (
  SELECT x.p AS part_a, y.p AS part_b,
         CAST(count(*) AS BIGINT) AS pair_cnt,
         any_value(x.item_cnt) AS cnt_a, any_value(y.item_cnt) AS cnt_b
  FROM fb x JOIN fb y ON x.o = y.o AND x.p < y.p
  GROUP BY x.p, y.p HAVING count(*) >= {_MB_MIN_PAIR}
)
SELECT part_a, part_b, pair_cnt,
       floor(pair_cnt * 1.0 / t.n_orders * 1e6 + 0.5) / 1e6 AS support,
       floor(pair_cnt * 1.0 / cnt_a * 1e6 + 0.5) / 1e6 AS confidence,
       floor(pair_cnt * 1.0 * t.n_orders / (cnt_a * cnt_b) * 1e6 + 0.5) / 1e6
         AS lift
FROM pairs, tot t
"""


@query(
    "basket_pair_lift",
    oracle=_BASKET_ORACLE,
    doc="Market-basket association mining, the a-priori way: item "
    "supports first, the ORDER-level pair self-join runs only over "
    "items above min-support (the classic candidate-pruning step — "
    "pair fan-out is bounded by per-basket frequent-item count "
    "squared, never by catalog size), pair support/confidence/lift "
    "against a 1-row broadcast order total. All thresholds integer "
    "counts, all ratios on the 1e-6 stable grid. The co-occurrence "
    "shape a domain-mixing or dataset-correlation audit runs at "
    "corpus scale",
    tags=("dataset", "analytics", "ext"),
)
def basket_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Round-12 (guide §2.4 "two operations keyed the same way can share
    # one exchange"): hash-partition the item stream by basket key ONCE
    # — HashPartitioning(o) satisfies the distinct's
    # ClusteredDistribution((o, p)) AND the basket collect's
    # ClusteredDistribution((o,)), so both aggregations run exchange-
    # free on top of it (the old plan exchanged by (o, p) for the
    # distinct and AGAIN by o for the basket build). Same rows out of
    # every stage; only the exchange count changes.
    #
    # Round-13 (VERDICT r12 ask #4): UNPERSISTED. The round-12 persist
    # kept the distinct from recomputing per consumer, but an
    # AQE-planned cached relation does not propagate its output
    # partitioning — so the basket collect re-exchanged the whole item
    # stream anyway, which is the single biggest shuffle here. Without
    # the cache, all three consumers canonicalize to ONE reused
    # repartition exchange (the scan+project below it runs once), the
    # distinct's HashAggregate re-runs per consumer on the co-located
    # shuffle rows (cheap, no shuffle), and HashPartitioning(o) now
    # reaches the basket groupBy — its exchange is GONE.
    b = (
        load(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .repartition(spark.sparkContext.defaultParallelism, "o")
        .distinct()
    )
    tot = b.agg(F.countDistinct("o").alias("n_orders"))
    freq = (
        b.groupBy("p")
        .agg(F.count("*").cast("bigint").alias("item_cnt"))
        .filter(F.col("item_cnt") >= _MB_MIN_ITEM)
    )
    fb = b.join(F.broadcast(freq), "p")
    # pair generation per basket, not a self-join on the order key: one
    # groupBy(o) collects the (bounded) frequent items of each basket
    # into a SORTED array, and a JVM-side comprehension emits each
    # unordered pair exactly once (sortedness gives part_a < part_b for
    # free — the self-join emitted both orders and filtered half away,
    # paying an extra exchange to do it). Round-8 rewrite: same oracle,
    # one fewer shuffle, half the pair rows materialized.
    baskets = fb.groupBy("o").agg(
        F.sort_array(F.collect_list(F.struct("p", "item_cnt"))).alias("items")
    )
    pairs_exploded = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(items, (a, i) -> "
                "transform(slice(items, i + 2, size(items)), b -> "
                "struct(a.p AS part_a, b.p AS part_b, "
                "a.item_cnt AS cnt_a, b.item_cnt AS cnt_b))))"
            )
        ).alias("pr")
    ).select("pr.*")
    pairs = (
        pairs_exploded.groupBy("part_a", "part_b")
        .agg(
            F.count("*").cast("bigint").alias("pair_cnt"),
            F.first("cnt_a").alias("cnt_a"),
            F.first("cnt_b").alias("cnt_b"),
        )
        .filter(F.col("pair_cnt") >= _MB_MIN_PAIR)
    )
    n = F.col("n_orders")
    return pairs.crossJoin(F.broadcast(tot)).select(
        "part_a",
        "part_b",
        "pair_cnt",
        stable_round(F.col("pair_cnt") / n, 6).alias("support"),
        stable_round(F.col("pair_cnt") / F.col("cnt_a"), 6).alias("confidence"),
        stable_round(
            F.col("pair_cnt") * n / (F.col("cnt_a") * F.col("cnt_b")), 6
        ).alias("lift"),
    )


# ---------------------------------------------------------------------------
# MAD anomaly flags (round 6): robust per-user outlier detection
# ---------------------------------------------------------------------------

_MAD_K = 3  # |x - median| > K * MAD flags an outlier

_ANOMALY_MAD_ORACLE = f"""
WITH v AS (
  SELECT event_id, user_id, value FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS med
  FROM v GROUP BY user_id
),
dev AS (
  SELECT v.event_id, v.user_id, v.value, m.med,
         abs(v.value - m.med) AS adev
  FROM v JOIN med m USING (user_id)
),
mad AS (
  SELECT user_id, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY user_id
)
SELECT d.event_id, d.user_id,
       floor(d.value * 1e6 + 0.5) / 1e6 AS value,
       floor(d.med * 1e6 + 0.5) / 1e6 AS med,
       floor(m.mad * 1e6 + 0.5) / 1e6 AS mad,
       d.adev > {_MAD_K} * m.mad AS is_outlier
FROM dev d JOIN mad m USING (user_id)
"""


@query(
    "events_anomaly_mad",
    oracle=_ANOMALY_MAD_ORACLE,
    doc="Robust per-user anomaly flags: median + median-absolute-"
    "deviation per user (the outlier-resistant z-score), flag events "
    "with |value - med| > 3 * MAD. Exact per-group percentiles (Spark "
    "percentile() and DuckDB quantile_cont() verified bit-identical "
    "on this corpus — the sketch_quantile_sampled finding), strict "
    "double compare on identical IEEE inputs, reported stats on the "
    "stable 1e-6 grid. Two user-keyed aggregations + two user-keyed "
    "joins; at 100 TB the exact percentile swaps for the "
    "sketch_quantile_sampled path with identical downstream flagging",
    tags=("dataset", "analytics", "ext"),
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = (
        load(spark, sf_dir, "events")
        .select("event_id", "user_id", "value")
        .filter(F.col("value").isNotNull())
    )
    med = v.groupBy("user_id").agg(F.expr("percentile(value, 0.5)").alias("med"))
    dev = v.join(med, "user_id").select(
        "event_id",
        "user_id",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("user_id").agg(F.expr("percentile(adev, 0.5)").alias("mad"))
    return dev.join(mad, "user_id").select(
        "event_id",
        "user_id",
        stable_round("value", 6).alias("value"),
        stable_round("med", 6).alias("med"),
        stable_round("mad", 6).alias("mad"),
        (F.col("adev") > _MAD_K * F.col("mad")).alias("is_outlier"),
    )


# ---------------------------------------------------------------------------
# Bigram LM logprob (round 6): the conditional-probability upgrade of
# text_unigram_logprob
# ---------------------------------------------------------------------------

_BIGRAM_LM_ORACLE = """
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
),
toks AS (SELECT doc_id, unnest(toks) AS tok FROM t),
uni AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
vsz AS (SELECT count(*) AS v FROM uni),
bg AS (
  SELECT doc_id, i AS pos, toks[CAST(i AS INTEGER)] AS w1,
         toks[CAST(i + 1 AS INTEGER)] AS w2
  FROM t, unnest(range(1, len(toks))) AS u(i)
),
bc AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2),
per_doc AS (
  SELECT bg.doc_id, count(*) AS n_bigrams,
         list_sum(list_transform(
           array_agg((ln(bc.c2 + 1) - ln(u.c1 + v.v)) / ln(2)
                     ORDER BY bg.pos),
           x -> x)) AS s
  FROM bg
  JOIN bc USING (w1, w2)
  JOIN uni u ON u.tok = bg.w1
  CROSS JOIN vsz v
  GROUP BY bg.doc_id
)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams,
       floor((-s / n_bigrams) * 1e4 + 0.5) / 1e4 AS mean_neg_logprob
FROM per_doc
"""


@query(
    "text_bigram_logprob",
    oracle=_BIGRAM_LM_ORACLE,
    doc="Bigram-LM quality score with add-one smoothing: mean "
    "-log2 p(w2|w1) = -log2 ((c(w1 w2)+1) / (c(w1)+V)) under the "
    "corpus's own counts — the conditional upgrade of "
    "text_unigram_logprob that catches shuffled-word salad a unigram "
    "model scores as fluent. Same determinism spine: per-element "
    "double ops then an ORDERED sequential fold (position-sorted "
    "collect on Spark, ORDER BY pos aggregation in the oracle), "
    "pinned bit-identical. Scale: one corpus bigram count (map-side "
    "combinable), one unigram count, a 1-row vocab-size broadcast; "
    "the per-doc fold shuffles counts keyed by doc_id, never text",
    tags=("text", "quality", "ext"),
)
def text_bigram_logprob(
    spark: SparkSession, sf_dir: str, t: DataFrame | None = None
) -> DataFrame:
    from ..registry import track_persist

    # materialize the token array FIRST: a lambda capturing the raw
    # split() expression re-evaluates it per element (O(len^2)/row —
    # the round-4 text_bigram_topk finding)
    if t is None:
        t = _doc_token_arrays(spark, sf_dir)
    # toks/bg deliberately NOT persisted (round-12, guide §5): both
    # are map-only explodes, the downstream aggregations' exchanges
    # are deduplicated by Spark's exchange reuse within the one
    # action, and caching the exploded streams measured slower than
    # re-running the codegen'd explode (see text_unigram_logprob's
    # note); at 100 TB the exploded corpus does not fit memory anyway.
    # uni stays persisted: it is the tiny post-aggregation vocab read
    # by two differently-shaped consumers.
    toks = t.select("doc_id", F.explode("toks").alias("tok"))
    uni = track_persist(toks.groupBy("tok").agg(F.count("*").alias("c1")))
    vsz = uni.agg(F.count("*").alias("v"))
    # size >= 2 guard: Spark's sequence(0, -1) generates DESCENDING
    # [0, -1] for single-token docs instead of an empty array (edge-
    # fixture finding) — and such docs have no bigrams anyway
    bg = (
        t.filter(F.size("toks") >= 2).select(
            "doc_id",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> struct(element_at(toks, i + 1) AS w1, "
                    "element_at(toks, i + 2) AS w2))"
                )
            ).alias("pos", "b"),
        ).select("doc_id", "pos", "b.w1", "b.w2")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    ln2 = F.log(F.lit(2.0))
    # NO broadcast hint on the unigram vocab (round-13, ADVICE r12):
    # like the unigram query, the vocab is Heaps-unbounded on raw split
    # tokens, so the unconditional hint risked a driver OOM at 100 TB
    # where AQE would have degraded to a shuffle join; the hint was
    # plan-neutral at bench scale, so the runtime size check decides
    # again. vsz (one row) keeps its hint.
    joined = (
        bg.join(bc, ["w1", "w2"])
        .join(uni.withColumnRenamed("tok", "w1"), "w1")
        .crossJoin(F.broadcast(vsz))
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "c2", "c1", "v"))),
                lambda e: (
                    F.log(e["c2"].cast("double") + F.lit(1.0))
                    - F.log(e["c1"].cast("double") + e["v"].cast("double"))
                )
                / ln2,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    return per_doc.select(
        "doc_id",
        "n_bigrams",
        stable_round(-F.col("s") / F.col("n_bigrams"), 4).alias(
            "mean_neg_logprob"
        ),
    )


# ---------------------------------------------------------------------------
# reciprocal-rank fusion of the two ANN indexes (hybrid search)
# ---------------------------------------------------------------------------

_RRF_K = 60  # the canonical RRF constant (Cormack et al.)
_RRF_TOPK = 3


# Composed from the two retrieval oracles, so the fusion describes
# exactly the rankings users run.
_RRF_ORACLE = f"""
WITH ivf AS ({_IVF_TOPK_ORACLE}),
pq AS ({_PQ_TOPK_ORACLE}),
u AS (
  SELECT query_id, neighbor_id, rank, 1 AS src_ivf, 0 AS src_pq FROM ivf
  UNION ALL
  SELECT query_id, neighbor_id, rank, 0 AS src_ivf, 1 AS src_pq FROM pq
),
scored AS (
  SELECT query_id, neighbor_id,
         CAST(sum((2 * 1000000 + ({_RRF_K} + rank))
                  // (2 * ({_RRF_K} + rank))) AS BIGINT) AS rrf_ppm,
         max(src_ivf) = 1 AS in_ivf,
         max(src_pq) = 1 AS in_pq
  FROM u GROUP BY query_id, neighbor_id
),
ranked AS (
  SELECT *, CAST(row_number() OVER (PARTITION BY query_id
             ORDER BY rrf_ppm DESC, neighbor_id) AS INTEGER) AS fused_rank
  FROM scored
)
SELECT query_id, neighbor_id, fused_rank, rrf_ppm, in_ivf, in_pq
FROM ranked WHERE fused_rank <= {_RRF_TOPK}
"""


@query(
    "sim_rrf_fusion",
    oracle=_RRF_ORACLE,
    doc="Hybrid retrieval via reciprocal-rank fusion: the IVF and PQ "
    f"indexes' top-k lists merge with the canonical RRF score "
    f"sum(1/({_RRF_K} + rank)) — here in round-half-up integer ppm, so "
    "the fused ordering is an exact BIGINT comparison on both engines "
    "— and the top-3 per query survive with per-index provenance "
    "flags. The standard recipe for combining retrievers with "
    "incomparable raw scores (ADC distances vs cosines); a BM25 text "
    "leg drops into the same union slot. Shape: the two parents' "
    "plans + one (query, neighbor)-keyed aggregate over their tiny "
    "top-k outputs + a per-query rank window — fusion cost is "
    "O(queries * k), independent of corpus size",
    tags=("similarity", "embedding", "ext"),
)
def sim_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ivf = sim_ivf_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        "rank",
        F.lit(1).alias("src_ivf"),
        F.lit(0).alias("src_pq"),
    )
    pq = sim_pq_topk(spark, sf_dir).select(
        "query_id",
        "neighbor_id",
        "rank",
        F.lit(0).alias("src_ivf"),
        F.lit(1).alias("src_pq"),
    )
    u = ivf.unionAll(pq)
    credit = F.expr(
        f"(2 * 1000000 + ({_RRF_K} + rank)) div (2 * ({_RRF_K} + rank))"
    )
    scored = u.withColumn("credit", credit).groupBy(
        "query_id", "neighbor_id"
    ).agg(
        F.sum("credit").cast("bigint").alias("rrf_ppm"),
        (F.max("src_ivf") == 1).alias("in_ivf"),
        (F.max("src_pq") == 1).alias("in_pq"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_ppm").desc(), "neighbor_id"
    )
    return (
        scored.withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= _RRF_TOPK)
        .select(
            "query_id", "neighbor_id", "fused_rank", "rrf_ppm", "in_ivf", "in_pq"
        )
    )


# ---------------------------------------------------------------------------
# DSIR importance resampling (round 7): distribution-matched data
# selection via hashed n-gram importance weights
# ---------------------------------------------------------------------------

_DSIR_BUCKETS = 4096  # hashed bigram feature space (DSIR's "hashed n-grams")
_DSIR_TARGET = "src0"  # the curated-domain proxy the raw corpus is matched to


_DSIR_ORACLE = f"""
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, source, i AS pos,
         CAST(('0x' || substr(md5(toks[CAST(i AS INTEGER)] || ' ' ||
               toks[CAST(i + 1 AS INTEGER)]), 1, 12)) AS BIGINT)
           % {_DSIR_BUCKETS} AS fid
  FROM t, unnest(range(1, len(toks))) AS u(i)
  WHERE len(toks) >= 2
),
rawc AS (SELECT fid, count(*) AS rc FROM bg GROUP BY fid),
tgtc AS (SELECT fid, count(*) AS tc FROM bg
         WHERE source = '{_DSIR_TARGET}' GROUP BY fid),
tot AS (
  SELECT count(*) AS r_tot,
         count(*) FILTER (WHERE source = '{_DSIR_TARGET}') AS t_tot
  FROM bg
),
per_doc AS (
  SELECT bg.doc_id, count(*) AS n_feats,
         list_sum(list_transform(array_agg(
           (ln(COALESCE(tc, 0) + 1.0) - ln(t_tot + {_DSIR_BUCKETS}.0))
           - (ln(rc + 1.0) - ln(r_tot + {_DSIR_BUCKETS}.0))
           ORDER BY bg.pos), x -> x)) AS s
  FROM bg
  JOIN rawc USING (fid)
  LEFT JOIN tgtc USING (fid)
  CROSS JOIN tot
  GROUP BY bg.doc_id
),
m AS (
  SELECT doc_id, n_feats, s,
         CAST(floor(s / n_feats * 1e6 + 0.5) AS BIGINT) AS m_fixed
  FROM per_doc
),
thr AS (
  SELECT CAST(sum(m_fixed) AS BIGINT) AS m_total,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM m
)
SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
       floor(s * 1e4 + 0.5) / 1e4 AS dsir_logw,
       m_fixed * n_docs > m_total AS keep
FROM m CROSS JOIN thr
"""


@query(
    "dsir_importance_weights",
    oracle=_DSIR_ORACLE,
    doc="DSIR data selection (Xie et al., NeurIPS 2023 'Data Selection "
    "for Language Models via Importance Resampling'): fit two hashed-"
    f"bigram bag-of-ngrams distributions — the {_DSIR_TARGET!r} docs as "
    "the curated-target proxy, the full corpus as raw — and score every "
    "document with the importance log-weight sum_f c_f(x) * "
    "(ln p_tgt(f) - ln p_raw(f)) under add-one smoothing over "
    f"{_DSIR_BUCKETS} hash buckets; keep = the doc's length-normalized "
    "mean log-ratio strictly above the corpus mean (the q11 "
    "mean-relative rule: add-one smoothing on the sparse target side "
    "shifts ALL weights negative, so a fixed sign cutoff selects "
    "nothing — relative rank is what DSIR resamples on). Determinism "
    "spine: md5-derived feature ids (bit-identical on both engines), "
    "per-element double log-ratios on exact integer counts, the ORDERED "
    "sequential fold by bigram position (the text_bigram_logprob "
    "pattern), then the threshold as pure BIGINT multiply-compare "
    "(m_fixed * n_docs > total) — no float mean, no div-vs-floor "
    "negative-division mismatch. Scale: the feature space is CAPPED at "
    "the bucket count, so "
    "both count tables broadcast regardless of corpus size — the only "
    "shuffles are the bigram count (map-side combinable) and the "
    "doc_id-keyed fold; no sort, no self-join, linear end to end",
    tags=("dataset", "curation", "text", "ext"),
)
def dsir_importance_weights(
    spark: SparkSession, sf_dir: str, t: DataFrame | None = None
) -> DataFrame:
    # materialize the token array before the lambda (the round-4
    # expression-capture finding: a lambda over raw split() re-splits
    # per element); pass t = _doc_token_arrays(..., with_source=True)
    # to share one scan+tokenization with composition siblings
    if t is None:
        docs = load(spark, sf_dir, "documents").repartition(
            spark.sparkContext.defaultParallelism, "doc_id"
        )
        t = docs.select(
            "doc_id", "source", F.split(F.lower("text"), " ").alias("toks")
        )
    # size >= 2 guard: sequence(0, -1) yields [0, -1] not [] (the
    # text_bigram_logprob edge finding); single-token docs have no
    # bigram features and drop out on both engines
    bg = track_persist(
        t.filter(F.size("toks") >= 2)
        .select(
            "doc_id",
            "source",
            F.posexplode(
                F.expr(
                    "transform(sequence(0, size(toks) - 2), "
                    "i -> concat(element_at(toks, i + 1), ' ', "
                    "element_at(toks, i + 2)))"
                )
            ).alias("pos", "bigram"),
        )
        .select(
            "doc_id",
            "source",
            "pos",
            (
                F.conv(F.substring(F.md5("bigram"), 1, 12), 16, 10).cast(
                    "bigint"
                )
                % _DSIR_BUCKETS
            ).alias("fid"),
        )
    )
    rawc = bg.groupBy("fid").agg(F.count("*").alias("rc"))
    tgtc = (
        bg.filter(F.col("source") == _DSIR_TARGET)
        .groupBy("fid")
        .agg(F.count("*").alias("tc"))
    )
    tot = bg.agg(
        F.count("*").alias("r_tot"),
        F.count(F.when(F.col("source") == _DSIR_TARGET, 1)).alias("t_tot"),
    )
    nb = F.lit(float(_DSIR_BUCKETS))
    joined = (
        bg.join(F.broadcast(rawc), "fid")
        .join(F.broadcast(tgtc), "fid", "left")
        .crossJoin(F.broadcast(tot))
    )
    per_doc = joined.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_feats"),
        F.aggregate(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("pos", "tc", "rc", "t_tot", "r_tot"))
                ),
                lambda e: (
                    F.log(F.coalesce(e["tc"], F.lit(0)).cast("double") + F.lit(1.0))
                    - F.log(e["t_tot"].cast("double") + nb)
                )
                - (
                    F.log(e["rc"].cast("double") + F.lit(1.0))
                    - F.log(e["r_tot"].cast("double") + nb)
                ),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    m = track_persist(
        per_doc.select(
            "doc_id",
            "n_feats",
            "s",
            F.floor(F.col("s") / F.col("n_feats") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("m_fixed"),
        )
    )
    thr = m.agg(
        F.sum("m_fixed").cast("bigint").alias("m_total"),
        F.count("*").cast("bigint").alias("n_docs"),
    )
    return m.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "n_feats",
        stable_round("s", 4).alias("dsir_logw"),
        (F.col("m_fixed") * F.col("n_docs") > F.col("m_total")).alias("keep"),
    )


# ---------------------------------------------------------------------------
# IVF+PQ composed index (round 7): the canonical billion-scale ANN
# architecture — coarse routing + compressed-domain scoring
# ---------------------------------------------------------------------------


# The IVF+PQ oracles stitch the two index definitions' CTE chains. Each
# chain lives in its OWN nested WITH scope (their CTE names collide:
# samp/dims/c0/a1...), referencing the shared outer ``e``; DuckDB scopes
# nested WITHs per subquery. The disk index and the incremental merge
# answer exactly like the in-session index (incremental == rebuild),
# so all three share _IVFPQ_TOPK_ORACLE.
_IVFPQ_CAND_SQL = f"""
  WITH {_ivf_kmeans_cte()}
  assign AS (
    SELECT vec_id, cent_id FROM (
      SELECT e.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_COS_VC_DUCK} DESC, c.cent_id) AS rn
      FROM e CROSS JOIN cent c
    ) WHERE rn = 1
  ),
  qprobe AS (
    SELECT vec_id AS query_id, cent_id FROM (
      SELECT e.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_COS_VC_DUCK} DESC, c.cent_id) AS rn
      FROM e CROSS JOIN cent c WHERE e.vec_id < {_PQ_NQ}
    ) WHERE rn <= {_IVF_NPROBE}
  )
  SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
  FROM qprobe q JOIN assign a ON a.cent_id = q.cent_id
  WHERE a.vec_id <> q.query_id
"""
_IVFPQ_CODES_SQL = f"""
  WITH {_pq_kmeans_cte()}
  allsub AS (
    SELECT vec_id, m, list_transform(range(1, 17), i -> v[m*16 + i]) AS sv
    FROM e CROSS JOIN ms
  ),
  codes AS (
    SELECT vec_id, m, code_id FROM (
      SELECT s.vec_id, s.m, c.code_id,
             row_number() OVER (PARTITION BY s.vec_id, s.m
                                ORDER BY {_PQ_L2} ASC, c.code_id) AS rn
      FROM allsub s JOIN cb c ON c.m = s.m
    ) WHERE rn = 1
  )
  SELECT vec_id,
         max(CASE WHEN m = 0 THEN code_id END) AS code0,
         max(CASE WHEN m = 1 THEN code_id END) AS code1,
         max(CASE WHEN m = 2 THEN code_id END) AS code2,
         max(CASE WHEN m = 3 THEN code_id END) AS code3
  FROM codes GROUP BY vec_id
"""
_IVFPQ_LUT_SQL = f"""
  WITH {_pq_kmeans_cte()}
  q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < {_PQ_NQ})
  SELECT q.query_id, c.m, c.code_id,
         list_sum(list_transform(range(1, 17),
           i -> (q.v[c.m*16 + i] - c.cv[i]) * (q.v[c.m*16 + i] - c.cv[i]))) AS d2
  FROM q CROSS JOIN cb c
"""
_IVFPQ_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS ({_IVFPQ_CAND_SQL}),
pc AS ({_IVFPQ_CODES_SQL}),
lut AS ({_IVFPQ_LUT_SQL}),
adc AS (
  SELECT cd.query_id, cd.neighbor_id,
         l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
  FROM cand cd
  JOIN pc p ON p.vec_id = cd.neighbor_id
  JOIN lut l0 ON l0.query_id = cd.query_id AND l0.m = 0 AND l0.code_id = p.code0
  JOIN lut l1 ON l1.query_id = cd.query_id AND l1.m = 1 AND l1.code_id = p.code1
  JOIN lut l2 ON l2.query_id = cd.query_id AND l2.m = 2 AND l2.code_id = p.code2
  JOIN lut l3 ON l3.query_id = cd.query_id AND l3.m = 3 AND l3.code_id = p.code3
)
SELECT query_id, neighbor_id, CAST(rn AS INTEGER) AS rank,
       floor(adc * 1e6 + 0.5) / 1e6 AS adc_dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY adc, neighbor_id) AS rn
  FROM adc
) WHERE rn <= {_PQ_TOPK}
"""

# Per-width stitch for sim_nprobe_sweep_pq_disk: qprobe keeps its probe
# rank, the ADC chain scores each (query, candidate) pair ONCE, and the
# per-width top-3 just filters probe_rn <= np — the same one-scoring-pass
# shape as the in-session sweep's oracle.
_IVFPQ_PROBE_CAND_SQL = f"""
  WITH {_ivf_kmeans_cte()}
  ranked AS (
    SELECT vec_id, cent_id, rn FROM (
      SELECT e.vec_id, c.cent_id,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_COS_VC_DUCK} DESC, c.cent_id) AS rn
      FROM e CROSS JOIN cent c
    )
  ),
  assign AS (SELECT vec_id, cent_id FROM ranked WHERE rn = 1),
  qprobe AS (
    SELECT vec_id AS query_id, cent_id, rn AS probe_rn
    FROM ranked WHERE vec_id < {_PQ_NQ}
  )
  SELECT q.query_id, a.vec_id AS neighbor_id, q.probe_rn
  FROM qprobe q JOIN assign a
    ON a.cent_id = q.cent_id AND a.vec_id <> q.query_id
"""
_NPROBE_SWEEP_PQ_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
cand AS ({_IVFPQ_PROBE_CAND_SQL}),
pc AS ({_IVFPQ_CODES_SQL}),
lut AS ({_IVFPQ_LUT_SQL}),
adc AS (
  SELECT cd.query_id, cd.neighbor_id, cd.probe_rn,
         l0.d2 + l1.d2 + l2.d2 + l3.d2 AS adc
  FROM cand cd
  JOIN pc p ON p.vec_id = cd.neighbor_id
  JOIN lut l0 ON l0.query_id = cd.query_id AND l0.m = 0 AND l0.code_id = p.code0
  JOIN lut l1 ON l1.query_id = cd.query_id AND l1.m = 1 AND l1.code_id = p.code1
  JOIN lut l2 ON l2.query_id = cd.query_id AND l2.m = 2 AND l2.code_id = p.code2
  JOIN lut l3 ON l3.query_id = cd.query_id AND l3.m = 3 AND l3.code_id = p.code3
),
axis AS (SELECT unnest([{", ".join(str(x) for x in _NPROBE_AXIS)}]) AS np),
pern AS (
  SELECT a.query_id, a.neighbor_id, a.adc, x.np
  FROM adc a CROSS JOIN axis x WHERE a.probe_rn <= x.np
),
topk AS (
  SELECT np, query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY np, query_id
                                 ORDER BY adc, neighbor_id) AS rk
    FROM pern
  ) WHERE rk <= 3
),
bf AS ({_BRUTEFORCE_ORACLE}),
hits AS (
  SELECT t.np, count(*) AS n_hits
  FROM topk t JOIN bf b
    ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
   AND b.rank <= 3
  GROUP BY t.np
),
counts AS (SELECT np, count(*) AS n_candidates FROM pern GROUP BY np),
nq AS (SELECT count(DISTINCT query_id) AS q FROM bf)
SELECT CAST(x.np AS INTEGER) AS nprobe,
       CAST(coalesce(c.n_candidates, 0) AS BIGINT) AS n_candidates,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       floor((coalesce(h.n_hits, 0) * 1.0 / (nq.q * 3)) * 1e6 + 0.5) / 1e6
         AS recall_at_3
FROM axis x LEFT JOIN counts c ON c.np = x.np
LEFT JOIN hits h ON h.np = x.np CROSS JOIN nq
"""


@query(
    "sim_ivfpq_topk",
    oracle=_IVFPQ_TOPK_ORACLE,
    doc="IVF+PQ search (Jegou et al. TPAMI'11, the FAISS IVFPQ "
    "architecture): queries route through the IVF coarse quantizer to "
    "their nprobe nearest centroid lists, and only vectors in the "
    "probed lists are scored — in the COMPRESSED domain, by PQ "
    "asymmetric distance over the 16x-smaller code table, never raw "
    "vectors. Composes the two registered index definitions "
    "(sim_ivf_topk's routing, sim_pq_topk's codebooks/LUT/fixed-m-order "
    "ADC) so the composite searches exactly the structures users "
    "already build. Candidate count ~ n*nprobe/K AND each candidate "
    "costs 4 array lookups instead of a 64-dim dot product — the "
    "multiplicative combination that makes billion-scale serving "
    "possible. Shape: bounded-sample training (broadcast), one "
    "cent_id-keyed candidate join, one code-table join, per-query "
    "rank windows; no global sort, no all-pairs anywhere",
    tags=("similarity", "quantization", "ext"),
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
    )
    # ---- IVF routing (sim_ivf_topk's exact assign/probe stages,
    # round-12: routed through the ONE shared rank_centroids definition
    # — crossJoin(broadcast centroids) + row_number window; the
    # literal-projection ranking variant was tried and REVERTED as
    # measured slower. Same plan as before, same arithmetic) ----
    from ..sources.ivf_index import rank_centroids

    ranked = track_persist(
        rank_centroids(emb.select("vec_id", "v"), _ivf_centroids(emb))
        .filter(F.col("rn") <= max(1, _IVF_NPROBE))
        .select("vec_id", "cent_id", "rn")
    )
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    qprobe = ranked.filter(
        (F.col("vec_id") < _PQ_NQ) & (F.col("rn") <= _IVF_NPROBE)
    ).select(F.col("vec_id").alias("query_id"), "cent_id")
    cand = (
        F.broadcast(qprobe)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    # ---- PQ compressed-domain scoring (sim_pq_topk's exact stages,
    # round-12 expression form: map-only encode + literal LUT, same
    # arithmetic — see sim_pq_topk) ----
    books = _pq_codebooks(emb)
    pcodes = _pq_wide_books(emb, books, _PQ_M, 16).select(
        "vec_id", *[f"code{m}" for m in range(_PQ_M)]
    )
    q = emb.filter(F.col("vec_id") < _PQ_NQ).select(
        F.col("vec_id").alias("query_id"), "v"
    )
    lut_q = _pq_luts_lit(q, books, _PQ_M, 16)
    base = cand.join(
        pcodes.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id"
    ).join(F.broadcast(lut_q), "query_id")
    d = [
        F.element_at(
            F.element_at(F.col("luts"), m + 1), F.col(f"code{m}").cast("int") + 1
        )
        for m in range(_PQ_M)
    ]
    adc = d[0] + d[1] + d[2] + d[3]  # fixed m-order, matching the oracle
    scored = base.select("query_id", "neighbor_id", adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy("adc", "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _PQ_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            stable_round(F.col("adc"), 6).alias("adc_dist"),
        )
    )


@query(
    "sim_ivfpq_disk_topk",
    oracle=_IVFPQ_TOPK_ORACLE,
    doc="The persisted FAISS IndexIVFPQ: coarse centroids, PQ "
    "codebooks, and per-vector codes on disk — codes partitioned by "
    "coarse list, RAW VECTORS NEVER STORED (the 16x compression is "
    "now a storage fact, not just a compute trick). Search routes "
    "queries through the stored coarse quantizer, prunes to the "
    "nprobe probed list partitions at planning time, and ADC-scores "
    "the stored codes against broadcast per-query LUTs. "
    "Build-if-absent per dataset fingerprint like sim_ivf_disk_topk; "
    "identical rows to sim_ivfpq_topk, so the two share one oracle",
    tags=("similarity", "quantization", "ext"),
)
def sim_ivfpq_disk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from ..sources.ivf_index import build_ivfpq_index, search_ivfpq_index

    path = _ivf_disk_index_path(sf_dir) + "_pq"
    if not os.path.exists(os.path.join(path, "codes", "_SUCCESS")):
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        build_ivfpq_index(spark, emb, path)
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PQ_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    return search_ivfpq_index(
        spark, path, queries, k=_PQ_TOPK, nprobe=_IVF_NPROBE
    )


@query(
    "sim_nprobe_sweep_pq_disk",
    oracle=_NPROBE_SWEEP_PQ_ORACLE,
    doc="The nprobe tuning curve for the COMPRESSED persisted index — "
    "sim_nprobe_sweep_disk's report for the layout you actually serve "
    "at 100 TB (codes only on disk, 16x smaller): at every probe "
    "width (1, 2, 4, 8 = full scan) one pruned cent_id IN scan of the "
    "code partitions, ADC scoring against broadcast per-query LUTs "
    "(the shared adc_score_codes stage, so the sweep scores exactly "
    "like search_ivfpq_index), top-3 per query, recall@3 vs the "
    "brute-force EXACT ground truth. Read next to the flat-index "
    "sweep: the recall delta at equal nprobe is what COMPRESSION "
    "loses, the per-width n_candidates column is identical by "
    "construction (same routing) while each candidate costs 4 lookups "
    "instead of a 64-dim dot product — the two knobs (nprobe vs "
    "codebook bits) tuned from one pair of reports",
    tags=("similarity", "eval", "quantization", "ext"),
)
def sim_nprobe_sweep_pq_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    from functools import reduce

    from ..registry import track_persist
    from ..sources.ivf_index import (
        adc_luts,
        adc_score_codes,
        build_ivfpq_index,
        collect_probe_rows,
        probe_candidates,
    )

    path = _ivf_disk_index_path(sf_dir) + "_pq"
    if not os.path.exists(os.path.join(path, "codes", "_SUCCESS")):
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        build_ivfpq_index(spark, emb, path)
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PQ_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    bf3 = track_persist(
        sim_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    nq = bf3.agg(F.countDistinct("query_id").alias("_q"))
    # one ranking collect at the widest axis point, sliced per width —
    # same single-ranking shape as the flat sweep; the per-query ADC
    # distance tables are width-independent, so build them once too
    ranked_rows = collect_probe_rows(spark, path, queries, max(_NPROBE_AXIS))
    luts = adc_luts(spark, path, queries)
    # Round-13 one-pass stitch (VERDICT r12 ask #3), mirroring the flat
    # sweep: the per-width pruned scans stay (the audit's semantics) but
    # each is tagged with its width and unioned, so ONE grouped count,
    # ONE shared ADC scoring pass (adc_score_codes carries the tag
    # through), ONE (nprobe, query_id) top-k window and ONE grouped
    # hits join replace 4x(count + window + hits) single-row stages.
    # The four per-width candidate persists became ONE persist of the
    # tagged union (A/B on the flat sweep: 3.15 s persisted vs 4.99 s
    # not — both consumers re-scan otherwise; footprint unchanged vs
    # the four separate caches). The LUT frame is consumed by one
    # broadcast build now, so its persist is gone.
    per_width = []
    for np_ in _NPROBE_AXIS:
        width_rows = [r for r in ranked_rows if int(r["rn"]) <= np_]
        per_width.append(
            probe_candidates(
                spark, path, queries, np_, "codes", probe_rows=width_rows
            ).withColumn("nprobe", F.lit(np_).cast("int"))
        )
    pern = track_persist(reduce(DataFrame.unionAll, per_width))
    counts = pern.groupBy("nprobe").agg(F.count("*").alias("n_candidates"))
    scored = adc_score_codes(
        spark, path, queries, pern, luts=luts, extra_cols=("nprobe",)
    )
    wq = Window.partitionBy("nprobe", "query_id").orderBy(
        "adc", "neighbor_id"
    )
    topk = scored.withColumn("rk", F.row_number().over(wq)).filter(
        F.col("rk") <= 3
    )
    hits = (
        topk.join(F.broadcast(bf3), ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count("*").alias("_nh"))
    )
    return _sweep_assemble(counts, hits, nq)


@query(
    "sim_ivfpq_disk_merge",
    oracle=_IVFPQ_TOPK_ORACLE,
    doc="Incremental maintenance for the COMPRESSED index — "
    "sim_ivf_disk_merge's daily-crawl posture applied to the persisted "
    "IndexIVFPQ (sources/ivf_index.py append_ivfpq_index): seed-build "
    "from the first half of the corpus (which contains BOTH bounded "
    "training samples, so the coarse centroids AND the PQ codebooks "
    "are frozen exactly as a production index's are), then the "
    "remaining vectors are assigned + PQ-encoded against the stored "
    "quantizers and appended into their code-list partitions — no "
    "retraining, no rewrite of existing lists, and only codes ever "
    "touch disk. Because both samples are contained in the seed, "
    "seed-build + delta-append equals a full rebuild bit for bit, so "
    "the query searches the MERGED index and is checked against the "
    "same full-corpus oracle as sim_ivfpq_topk — incremental == "
    "rebuild for the compressed layout, verified row for row",
    tags=("similarity", "quantization", "ext"),
)
def sim_ivfpq_disk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from ..plans.two_phase import parquet_rows
    from ..sources.ivf_index import (
        append_ivfpq_index,
        build_ivfpq_index,
        search_ivfpq_index,
    )

    path = _ivf_disk_index_path(sf_dir) + "_pq_merged"
    marker = os.path.join(path, "_MERGED")
    # same absence rule as sim_ivf_disk_merge: no end-to-end marker OR
    # no codes layout (failed swap recovery) -> rebuild from scratch
    if not os.path.exists(marker) or not os.path.isdir(
        os.path.join(path, "codes")
    ):
        shutil.rmtree(path, ignore_errors=True)
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        n = parquet_rows(sf_dir, "embeddings")
        if n is None:
            n = emb.count()
        # the cut must keep BOTH bounded training samples (coarse
        # k-means and PQ codebooks) inside the seed so the frozen
        # quantizers equal a full rebuild's
        cut = max(_IVF_SAMPLE, _PQ_SAMPLE, n // 2)
        build_ivfpq_index(spark, emb.filter(F.col("vec_id") < cut), path)
        append_ivfpq_index(emb.filter(F.col("vec_id") >= cut), path)
        with open(marker, "w") as f:
            f.write(str(cut))
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < _PQ_NQ)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    return search_ivfpq_index(
        spark, path, queries, k=_PQ_TOPK, nprobe=_IVF_NPROBE
    )


@query(
    "sim_ivfpq_recall",
    oracle=f"""
WITH bf AS ({_BRUTEFORCE_ORACLE}),
ipq AS ({_IVFPQ_TOPK_ORACLE}),
hits AS (
  SELECT b.query_id, count(*) AS n_hits
  FROM bf b JOIN ipq i ON i.query_id = b.query_id
   AND i.neighbor_id = b.neighbor_id
  WHERE b.rank <= 3 AND i.rank <= 3
  GROUP BY b.query_id
),
q AS (SELECT DISTINCT query_id FROM bf)
SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       floor((coalesce(h.n_hits, 0) / 3.0) * 1e6 + 0.5) / 1e6 AS recall_at_3
FROM q LEFT JOIN hits h ON h.query_id = q.query_id
""",
    doc="ANN quality audit for the composed index — recall@3 of "
    "sim_ivfpq_topk (its top-3 of 5) against the brute-force ground "
    "truth per query: the go/no-go report for serving IVF+PQ, read "
    "next to sim_recall_eval (IVF-Flat) to see what ROUTING loses vs "
    "what COMPRESSION loses — the two error sources tune independently "
    "(nprobe vs codebook bits). Both sides are the registered queries; "
    "the oracle composes the two proven oracles. Cost: the parents' "
    "plans + one (query, neighbor) equi-join over two top-k lists",
    tags=("similarity", "eval", "quantization", "ext"),
)
def sim_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = sim_topk_bruteforce(spark, sf_dir).filter(F.col("rank") <= 3)
    ipq = sim_ivfpq_topk(spark, sf_dir).filter(F.col("rank") <= 3)
    hits = (
        bf.join(ipq, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("_nh"))
    )
    q = bf.select("query_id").distinct()
    nh = F.coalesce(F.col("_nh"), F.lit(0))
    return q.join(hits, "query_id", "left").select(
        "query_id",
        nh.cast("bigint").alias("n_hits"),
        stable_round(nh / 3.0, 6).alias("recall_at_3"),
    )


# ---------------------------------------------------------------------------
# Efraimidis-Spirakis weighted reservoir sampling (round 7)
# ---------------------------------------------------------------------------

_RES_K = 50  # reservoir size
_RES_PPM = 1_000_000


@query(
    "sample_weighted_reservoir",
    oracle=f"""
WITH u AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
         (CAST(('0x' || substr(md5('res#' || CAST(doc_id AS VARCHAR)), 1, 12))
               AS BIGINT) % {_RES_PPM} + 1) / {_RES_PPM + 1}.0 AS uu
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, n_chars,
       floor((ln(uu) / n_chars) * 1e9 + 0.5) / 1e9 AS es_key
FROM u
ORDER BY ln(uu) / n_chars DESC, doc_id
LIMIT {_RES_K}
""",
    doc="Weighted sampling WITHOUT replacement (Efraimidis & Spirakis "
    "2006, A-Res): each doc draws a deterministic uniform u from a "
    "salted md5 (exact integer ppm, shifted off zero) and the "
    f"{_RES_K} docs with the largest ln(u)/w survive, w = n_chars — "
    "the log-space monotone equivalent of the canonical u^(1/w) key "
    "that avoids pow() (whose rounding is not IEEE-pinned cross-"
    "engine; ln and division are). The fixed-SIZE companion to "
    "sample_weighted_hash's fixed-RATE draw: a char-budgeted corpus "
    "draw that returns exactly k docs, inclusion probability "
    "proportional to weight, no replacement. Shape: one scan + "
    "TakeOrderedAndProject partial top-k per partition merged on the "
    "driver — no global sort, no shuffle of the corpus; the ordering "
    "key is bit-identical cross-engine so the reservoir boundary "
    "cannot flip",
    tags=("dataset", "sampling", "ext"),
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    h = _md5_bigint(F.concat(F.lit("res#"), F.col("doc_id"))) % _RES_PPM
    u = (h + F.lit(1)) / F.lit(float(_RES_PPM + 1))
    key = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            F.col("n_chars").cast("bigint").alias("n_chars"),
            key.alias("_k"),
        )
        .orderBy(F.desc("_k"), "doc_id")
        .limit(_RES_K)
        .select("doc_id", "n_chars", stable_round("_k", 9).alias("es_key"))
    )
