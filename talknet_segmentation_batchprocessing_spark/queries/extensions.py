"""Large-scale training-data pipeline operators (BASELINE.json north
star): deduplication, similarity search, text analysis, multimodal
plumbing — each a first-class oracle-checked query over `documents` /
`embeddings`.

Determinism design: MinHash/SimHash normally hash raw tokens; Spark's
xxhash64 and DuckDB's hash() differ, but both engines implement md5()
with identical output, so token/shingle ids are the first 12 hex
digits of md5 parsed as bigint — bit-identical on both engines, fully
parallel (no global sort, no vocabulary join), and exactly the
production shape: a per-row hash feeding the affine minhash family.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.lsh import band_pack_expr, sign_signatures
from ..functions.rounding import stable_round
from ..functions.shingles import word_shingles
from ..registry import load, query, track_persist

# ---------------------------------------------------------------------------
# shared text fragments
# ---------------------------------------------------------------------------

_MINHASH_P = 8191  # Mersenne prime for the affine hash family


def _doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct word 3-shingles per document.

    zip_with over the MATERIALIZED token-array column and its tails —
    no window. Two earlier forms were slower: transform(sequence,
    slice(RAW split-expression)) re-split the text per position
    (O(tokens^2) per doc, the lambda-expression-capture trap), and the
    round-1..4 posexplode+lead form paid a per-doc-partition window
    SORT on every shingling. Slicing a bound array column is one pass
    per row; result set identical.
    """
    # The testdata table is one parquet file = ONE scan partition; fan
    # out by doc_id before the explode or all shingling runs on a
    # single core (on a real corpus, file splits already parallelize
    # the scan and this repartition coalesces into the shuffle AQE
    # would plan anyway).
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    d = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w")).filter(
        F.size("w") >= 3
    )
    sh = (
        d.select("doc_id", F.explode(word_shingles("w", 3)).alias("shingle"))
        .distinct()
    )
    # NOT persisted since round 12 (guide §5): the cache bought nothing
    # warm (A/B on the jaccard shape: 0.97 s persisted vs 0.99 s
    # unpersisted warm, 5.19 vs 2.16 cold), and at 100 TB the distinct
    # shingle set does not fit memory. The distinct sits on the doc_id
    # repartition, so within one action exchange reuse shares only that
    # repartition, and each consumer branch reruns split + explode +
    # distinct (dedup_ngram_jaccard's final plan: three explodes over
    # one Exchange and two ReusedExchanges). Multi-action consumers (the
    # CC family) read the downstream localCheckpoint-ed edge table.
    return sh


_SQL_SHINGLES = """
  SELECT DISTINCT doc_id, shingle FROM (
    SELECT doc_id, unnest(list_transform(range(1, len(w) - 1),
                   i -> array_to_string(w[i:i+2], ' '))) AS shingle
    FROM (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents)
    WHERE len(w) >= 3
  )
"""

# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
SELECT min(doc_id) AS canonical_id, count(*) AS n_copies, n_chars
FROM documents GROUP BY text, n_chars
""",
    doc="Exact dedup: hash-groupBy on content, keep min doc_id as "
    "canonical. At 100 TB: group by xxhash64(text) first, verify "
    "within-bucket to avoid shuffling full text",
    tags=("dedup", "ext"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("text", "n_chars").agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    ).select("canonical_id", "n_copies", "n_chars")


_CONTAINMENT_THRESHOLD = 0.5

_CONTAINMENT_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT x.doc_id AS sub_id, y.doc_id AS sup_id, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id <> y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT c.sub_id, c.sup_id,
       floor((c.n_common * 1.0 / s.n) * 1e6 + 0.5) / 1e6 AS containment,
       CAST(s.n AS BIGINT) AS n_sub_shingles,
       CAST(c.n_common AS BIGINT) AS n_common
FROM common c JOIN sizes s ON s.doc_id = c.sub_id
WHERE c.n_common * 1.0 / s.n >= {_CONTAINMENT_THRESHOLD}
"""


@query(
    "dedup_containment",
    oracle=_CONTAINMENT_ORACLE,
    doc="DIRECTIONAL shingle containment |A-and-B| / |A| — the "
    "asymmetric companion to Jaccard: a short document quoted or "
    "wrapped inside a longer one scores near 1.0 as the contained "
    "side while its Jaccard stays low (the union is dominated by the "
    "container), so symmetric near-dup passes miss exactly the "
    "quote/boilerplate-wrapper mass this catches. Same shingle "
    "equi-join + size join as the Jaccard pipeline (never all-pairs, "
    "the shared scale shape); emits (contained, container) ordered "
    "pairs above the threshold with the audit counts",
    tags=("dedup", "text", "ext"),
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    sizes = track_persist(sh.groupBy("doc_id").agg(F.count("*").alias("n")))
    x = sh.select(F.col("doc_id").alias("sub_id"), "shingle")
    y = sh.select(F.col("doc_id").alias("sup_id"), "shingle")
    common = (
        x.join(y, "shingle")
        .filter(F.col("sub_id") != F.col("sup_id"))
        .groupBy("sub_id", "sup_id")
        .agg(F.count("*").alias("n_common"))
    )
    s = sizes.select(F.col("doc_id").alias("sub_id"), F.col("n").alias("n_sub"))
    cont = F.col("n_common") / F.col("n_sub")
    return (
        common.join(s, "sub_id")
        .filter(cont >= _CONTAINMENT_THRESHOLD)
        .select(
            "sub_id",
            "sup_id",
            stable_round(cont, 6).alias("containment"),
            F.col("n_sub").alias("n_sub_shingles"),
            "n_common",
        )
    )


_NGRAM_JACCARD_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
)
SELECT p.doc_a, p.doc_b,
       floor((p.n_common * 1.0 / (sa.n + sb.n - p.n_common)) * 1e6 + 0.5) / 1e6 AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
"""


@query(
    "dedup_ngram_jaccard",
    oracle=_NGRAM_JACCARD_ORACLE,
    doc="N-gram Jaccard near-dup: 3-shingles -> shingle-equi-join -> "
    "pairwise Jaccard >= 0.2. The shingle join IS the scale path (no "
    "all-pairs product); skewed shingles would be cut by a document-"
    "frequency cap in production",
    tags=("dedup", "ext"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    # sizes is joined on both pair sides; the second side reads the
    # first's exchange (ReusedExchange), so the aggregation over sh runs
    # once without a persist
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    y = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    pairs = (
        x.join(y, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter(jac >= 0.2)
        .select("doc_a", "doc_b", stable_round(jac, 6).alias("jaccard"))
    )


def _near_dup_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup similarity EDGE TABLE (doc_a < doc_b, distinct by
    the jaccard groupBy), materialized once per query via an eager
    ``localCheckpoint``: every graph consumer (star CC, canonical
    keep, triangle counting) then plans over a stored table instead of
    recomposing the whole shingle->join->jaccard chain into its own
    plan (the round-4 triangle plan carried 76 lineage shuffles). At
    100 TB this is a written artifact — sources/checkpoints.py /
    sources/bucketed.py — produced by one job and shared by every
    downstream graph pass; localCheckpoint is the single-session
    equivalent (stored partitions, truncated lineage)."""
    return (
        dedup_ngram_jaccard(spark, sf_dir)
        .select(F.col("doc_a").cast("long").alias("doc_a"),
                F.col("doc_b").cast("long").alias("doc_b"))
        # eager=False (round-12): every consumer takes its own
        # materializing action immediately (the CC operator's edge
        # count, the graph tables' bucketed write), so the eager
        # checkpoint's dedicated job was pure overhead — one job
        # computes AND stores the edges now. Stored partitions are
        # shared by later reads exactly as before.
        .localCheckpoint(eager=False)
    )


_GRAPH_BUCKETS = 8  # scale knob: pick O(cluster cores) at 100 TB
# below this row count the degree-annotated edge table is broadcast-
# sized (1M rows ~ 24 MB < the 64 MB auto-broadcast threshold), so the
# bucketed on-disk publication costs more than it saves — the same
# size-adaptive rule as operators/graph.py's local_threshold
_GRAPH_PUBLISH_THRESHOLD = 1_000_000


def _graph_table_name(spark: SparkSession, base: str, sf_dir: str) -> str:
    """Session+source-scoped catalog name: concurrent sessions each
    write their own table, and the sf_dir hash keeps one session's
    tables for different source dirs apart."""
    import hashlib
    import re

    app = re.sub(r"[^A-Za-z0-9_]", "_", spark.sparkContext.applicationId)
    h = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"{base}_{app}_{h}"


def _write_graph_table(
    spark: SparkSession, edges: DataFrame, base: str, key: str, sf_dir: str
) -> DataFrame:
    """Publish ``edges`` as a bucketed+bucket-sorted parquet table on
    ``key`` (sources/bucketed.py) and return the catalog scan. Every
    downstream self-join / keyed join on ``key`` then plans with ZERO
    exchange on the table side — the pay-the-shuffle-once storage
    posture the graph family needs: the edge table is written by one
    job and consumed by wedge/close/iteration joins that would
    otherwise each re-shuffle it.

    Every call builds and publishes afresh (the bucketed table is
    overwritten): nothing is reused across queries."""
    import os
    import tempfile

    from ..sources.bucketed import write_bucketed

    # ADAPTIVE publication (round-12), mirroring the CC operator's
    # local_threshold switch: below the threshold the edge table is
    # broadcast-sized, so every downstream keyed join beats the
    # bucketed-scan plan anyway and the parquet write + catalog
    # round-trip (~1.3 s at bench scale for a 520-row table) buys
    # nothing — hand consumers a locally-checkpointed frame instead
    # (stored partitions, so PageRank's five iteration joins re-read
    # it without re-deriving the degree join; the count below is the
    # materializing action). Above the threshold — the actual 100 TB
    # regime — the bucketed zero-exchange publication engages exactly
    # as before. Results are unaffected either way (storage layout
    # only).
    df = edges.localCheckpoint(eager=False)
    n_edges = df.count()
    if n_edges <= _GRAPH_PUBLISH_THRESHOLD:
        # broadcast hint: the checkpointed RDD carries no size stats,
        # so plan-time broadcast would never fire and every consumer
        # join would plan as SMJ until AQE converts it at runtime —
        # but the frame is broadcast-sized BY CONSTRUCTION here (the
        # threshold is the point of this branch), so hint it and let
        # the wedge/iteration joins plan exchange-free up front.
        return F.broadcast(df)
    name = _graph_table_name(spark, base, sf_dir)
    path = os.path.join(
        tempfile.gettempdir(), "spark_graft_graph_tables", name
    )
    write_bucketed(df, name, [key], _GRAPH_BUCKETS, sort_cols=[key], path=path)
    return spark.table(name)


def _oriented_edges_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-oriented near-dup edge table (s -> t with s_rk < t_rk,
    rk = degree * 2^32 + id) written through sources/bucketed.py on
    ``s_rk``: the wedge self-join at the heart of triangle counting
    becomes a zero-exchange bucket-local sort-merge join. doc_ids are
    32-bit-bounded here; at larger id domains pack a struct key."""
    return _write_graph_table(
        spark,
        _build_oriented_edges(spark, sf_dir),
        "graph_oriented_edges",
        "s_rk",
        sf_dir,
    )


def _build_oriented_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _near_dup_edges(spark, sf_dir)
    sym = e.unionAll(
        e.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    # deg feeds BOTH sides of the ranking join; the second side reads
    # the first's exchange (ReusedExchange), so the degree aggregation
    # runs once without a persist
    deg = (
        sym.groupBy("doc_a")
        .agg(F.count("*").alias("d"))
        .select(
            F.col("doc_a").alias("node"),
            (F.col("d") * F.lit(2**32) + F.col("doc_a")).alias("rk"),
        )
    )
    ranked = (
        e.join(deg.withColumnsRenamed({"node": "doc_a", "rk": "ra"}), "doc_a")
        .join(deg.withColumnsRenamed({"node": "doc_b", "rk": "rb"}), "doc_b")
    )
    lo = F.col("ra") < F.col("rb")
    o = ranked.select(
        F.when(lo, F.col("doc_a")).otherwise(F.col("doc_b")).alias("s"),
        F.when(lo, F.col("ra")).otherwise(F.col("rb")).alias("s_rk"),
        F.when(lo, F.col("doc_b")).otherwise(F.col("doc_a")).alias("t"),
        F.when(lo, F.col("rb")).otherwise(F.col("ra")).alias("t_rk"),
    )
    return o


def _sym_edges_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized, degree-annotated edge table (u, v, d) bucketed on
    ``u``: the per-iteration rank join in PageRank reads matching
    buckets directly — only the (tiny) rank vector moves per round."""
    e = _near_dup_edges(spark, sf_dir)
    ed = e.select(
        F.col("doc_a").alias("u"), F.col("doc_b").alias("v")
    ).unionAll(e.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")))
    deg = ed.groupBy("u").agg(F.count("*").alias("d"))
    return _write_graph_table(spark, ed.join(deg, "u"), "graph_sym_edges", "u", sf_dir)


_MINHASH_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
ds AS (
  SELECT doc_id, CAST(('0x' || substr(md5(shingle), 1, 12)) AS BIGINT) AS sid
  FROM sh
),
params AS (SELECT j, 2 * j + 3 AS a, 5 * j + 7 AS b FROM (SELECT unnest(range(0, 8)) AS j)),
mh AS (
  SELECT doc_id, j, min((a * sid + b) % {_MINHASH_P}) AS minh
  FROM ds CROSS JOIN params GROUP BY doc_id, j
),
bands AS (
  SELECT doc_id, CAST(j // 4 AS INTEGER) AS band,
         string_agg(CAST(minh AS VARCHAR), ',' ORDER BY j) AS sig
  FROM mh GROUP BY doc_id, j // 4
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY doc_id),
common AS (
  SELECT c.doc_a, c.doc_b, count(*) AS n_common
  FROM cand c
  JOIN ds x ON x.doc_id = c.doc_a
  JOIN ds y ON y.doc_id = c.doc_b AND y.sid = x.sid
  GROUP BY c.doc_a, c.doc_b
)
SELECT c.doc_a, c.doc_b,
       floor((coalesce(m.n_common, 0) * 1.0
             / (sa.n + sb.n - coalesce(m.n_common, 0))) * 1e6 + 0.5) / 1e6 AS jaccard
FROM cand c
LEFT JOIN common m ON m.doc_a = c.doc_a AND m.doc_b = c.doc_b
JOIN sizes sa ON sa.doc_id = c.doc_a
JOIN sizes sb ON sb.doc_id = c.doc_b
"""


@query(
    "dedup_minhash_lsh",
    oracle=_MINHASH_ORACLE,
    doc="MinHash+LSH near-dup: 3-shingles -> md5-derived shingle ids -> "
    "8 affine minhashes -> 2 bands x 4 rows -> band-bucket join -> "
    "candidate pairs verified with true Jaccard. The band join is the "
    "100 TB path: candidates ~ O(true dups), never all-pairs",
    tags=("dedup", "ext", "flagship"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    # ds feeds four branches (minhashes, sizes, and both sides of the
    # verification self-join) — persist once. Shingle ids come straight
    # from md5 (identical in DuckDB): embarrassingly parallel, no
    # vocabulary sort or join.
    ds = track_persist(
        sh.select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10).cast("bigint").alias("sid"),
        )
    )
    # All 8 minhashes in ONE aggregation (8 min columns over the same
    # rows), then bands by column slicing — no 8x row replication, no
    # second groupBy, two fewer shuffles than the cross-join form. The
    # oracle keeps the unnest/group form; identical band signatures.
    mh = ds.groupBy("doc_id").agg(
        *[
            F.min((F.lit(2 * j + 3) * F.col("sid") + F.lit(5 * j + 7)) % _MINHASH_P)
            .cast("bigint")
            .alias(f"h{j}")
            for j in range(8)
        ]
    )
    band_structs = [
        F.struct(
            F.lit(b).cast("int").alias("band"),
            F.concat_ws(",", *[F.col(f"h{j}").cast("string") for j in range(4 * b, 4 * b + 4)]).alias("sig"),
        )
        for b in range(2)
    ]
    bands = mh.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bs")
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "sig")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "sig")
    # cand feeds the verification join AND the final left join; without
    # persist the whole minhash+band-join chain would run twice. It is
    # O(true dups) rows — tiny relative to the corpus at any scale.
    cand = track_persist(
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sizes = track_persist(ds.groupBy("doc_id").agg(F.count("*").alias("n")))
    x = ds.select(F.col("doc_id").alias("doc_a"), "sid")
    y = ds.select(F.col("doc_id").alias("doc_b"), "sid")
    common = (
        cand.join(x, "doc_a").join(y, ["doc_b", "sid"]).groupBy("doc_a", "doc_b").agg(
            F.count("*").alias("n_common")
        )
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        cand.join(common, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            stable_round(nc / (F.col("na") + F.col("nb") - nc), 6).alias("jaccard"),
        )
    )


_SIMHASH_ORACLE = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
  )
),
dt AS (
  SELECT doc_id, CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 65536 AS h
  FROM toks
),
bits AS (
  SELECT doc_id, b,
         CAST(sum(CASE WHEN (CAST(floor(h / power(2, b)) AS BIGINT) % 2) = 1
                  THEN 1 ELSE -1 END) AS BIGINT) AS s
  FROM dt CROSS JOIN (SELECT unnest(range(0, 16)) AS b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       CAST(sum(CASE WHEN s > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


@query(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    doc="SimHash fingerprint: 16-bit signed-sum-of-token-hash-bits per "
    "doc (md5-derived token hashes); identical fingerprints = near-dup "
    "candidates. One groupBy per stage, no pairwise work until bucketing",
    tags=("dedup", "ext"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).distinct()
    dt = toks.select(
        "doc_id",
        (F.conv(F.substring(F.md5("tok"), 1, 12), 16, 10).cast("bigint") % 65536).alias("h"),
    )
    bvals = spark.range(0, 16).select(F.col("id").alias("b"))
    bit = (F.floor(F.col("h") / F.pow(F.lit(2.0), F.col("b"))).cast("bigint") % 2)
    bits = (
        dt.crossJoin(F.broadcast(bvals))
        .groupBy("doc_id", "b")
        .agg(F.sum(F.when(bit == 1, 1).otherwise(-1)).cast("bigint").alias("s"))
    )
    weight = F.pow(F.lit(2.0), F.col("b")).cast("bigint")
    return bits.groupBy("doc_id").agg(
        F.sum(F.when(F.col("s") > 0, weight).otherwise(0)).cast("bigint").alias("simhash")
    )


_CC_ORACLE = f"""
WITH RECURSIVE
sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p0 AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
jac AS (
  SELECT p.doc_a, p.doc_b
  FROM p0 p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jac
),
cc(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.doc_id
)
SELECT doc_id, min(lbl) AS cluster_id FROM cc GROUP BY doc_id
"""


@query(
    "dedup_cc_clusters",
    oracle=_CC_ORACLE,
    doc="Near-dup CLUSTERING (DEFAULT): connected components over the "
    "n-gram Jaccard pair graph (>= 0.2) — every document labeled with "
    "the min doc_id of its component, singletons labeled with "
    "themselves. Pairwise near-dup alone over-removes (A~B, B~C but "
    "A!~C): canonical-per-component is what an actual dedup pass "
    "keeps. Since round 3 the default name runs the 100 TB-safe "
    "large-star/small-star algorithm (same as dedup_cc_star); the "
    "hash-min label propagation it previously ran (driver-green r2) "
    "is kept as dedup_cc_labelprop, the low-diameter fast path",
    tags=("dedup", "ext"),
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_cc_star(spark, sf_dir)


@query(
    "dedup_cc_labelprop",
    oracle=_CC_ORACLE,
    doc="Hash-min label propagation CC — the low-diameter FAST PATH "
    "(was the dedup_cc_clusters default until round 3). Iterative "
    "joins with per-round localCheckpoint (lineage cut); rounds = "
    "component diameter, one driver convergence action per round. On "
    "a giant/high-diameter component the hot label becomes a shuffle "
    "hot-spot — use the default dedup_cc_clusters (star) there",
    tags=("dedup", "ext"),
)
def dedup_cc_labelprop(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = _near_dup_edges(spark, sf_dir)
    edges = track_persist(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")).unionAll(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    labels = docs.select("doc_id", F.col("doc_id").alias("cluster_id")).localCheckpoint()
    # Hash-min fixpoint: labels only ever decrease, so an unchanged
    # label sum == convergence. Each round is one equi-join + one
    # groupBy-min; localCheckpoint cuts the lineage so round N's plan
    # does not re-run rounds 1..N-1.
    prev_sum = None
    while True:
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "src"), "src"
        ).select(F.col("dst").alias("doc_id"), "cluster_id")
        labels = (
            labels.unionAll(prop)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return labels


@query(
    "dedup_cc_star",
    oracle=_CC_ORACLE,
    doc="Same clustering as dedup_cc_clusters, computed with the "
    "large-star/small-star algorithm (Kiveris et al. SoCC'14, "
    "operators/graph.py): O(log n) rounds on ANY graph shape and every "
    "aggregation key is a node — never a component label — so a giant "
    "component cannot become a shuffle hot-spot. This is the 100 TB "
    "CC; hash-min (above) is the low-diameter fast path",
    tags=("dedup", "ext"),
)
def dedup_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components_star

    docs = load(spark, sf_dir, "documents").select("doc_id")
    # Jaccard pairs come out of a groupBy(doc_a, doc_b): already
    # distinct, so the CC operator can skip its defensive dedup shuffle;
    # the shared edge table is already checkpoint-materialized, so it
    # skips the operator's own checkpoint copy too.
    pairs = _near_dup_edges(spark, sf_dir)
    out = connected_components_star(
        docs, pairs, edges_distinct=True, edges_materialized=True
    )
    return out.select("doc_id", F.col("component").alias("cluster_id"))


_KEEP_CANONICAL_ORACLE = f"""
WITH RECURSIVE
sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p0 AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
jac AS (
  SELECT p.doc_a, p.doc_b
  FROM p0 p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jac
),
cc(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.doc_id
),
lbl AS (SELECT doc_id, min(lbl) AS cluster_id FROM cc GROUP BY doc_id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN lbl l ON d.doc_id = l.doc_id
WHERE l.cluster_id = d.doc_id
"""


@query(
    "dedup_keep_canonical",
    oracle=_KEEP_CANONICAL_ORACLE,
    doc="The COMPLETE dedup pass end-to-end in one query: n-gram "
    "Jaccard candidate pairs -> star connected components -> keep only "
    "each component's canonical (min doc_id) document, joined back for "
    "its payload columns. This is the query a curation pipeline "
    "actually ships — the pairwise/cluster queries above are its "
    "building blocks. Every stage is the scale-path variant (shingle "
    "equi-join, star CC, broadcast-size label join)",
    tags=("dedup", "ext", "pipeline"),
)
def dedup_keep_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    clusters = dedup_cc_star(spark, sf_dir)
    keep = clusters.filter(F.col("cluster_id") == F.col("doc_id")).select("doc_id")
    # survivors ≤ n_docs: an equi-join on the doc key; at corpus scale
    # both sides hash-partition on doc_id (no broadcast assumption)
    return docs.join(keep, "doc_id").select("doc_id", "lang", "n_chars")


# md5-derived deterministic corpus/batch split (same expression family
# as dataset_ops._md5_bigint): ~80% "existing corpus", ~20% "new batch"
_INCR_SPLIT_MOD = 10
_INCR_CORPUS_LT = 8
_SQL_INCR_HASH = "CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)"

_INCR_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
side AS (
  SELECT doc_id,
         {_SQL_INCR_HASH} % {_INCR_SPLIT_MOD} < {_INCR_CORPUS_LT} AS in_corpus
  FROM documents
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
hits AS (
  SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id, count(*) AS n_common
  FROM sh b JOIN side sb ON sb.doc_id = b.doc_id AND NOT sb.in_corpus
  JOIN sh c ON c.shingle = b.shingle
  JOIN side sc ON sc.doc_id = c.doc_id AND sc.in_corpus
  GROUP BY b.doc_id, c.doc_id
),
dup AS (
  SELECT DISTINCT h.batch_id
  FROM hits h
  JOIN sizes za ON za.doc_id = h.batch_id
  JOIN sizes zb ON zb.doc_id = h.corpus_id
  WHERE h.n_common * 1.0 / (za.n + zb.n - h.n_common) >= 0.2
)
SELECT s.doc_id, (d.batch_id IS NOT NULL) AS is_dup
FROM side s LEFT JOIN dup d ON d.batch_id = s.doc_id
WHERE NOT s.in_corpus
"""


@query(
    "dedup_incremental",
    oracle=_INCR_ORACLE,
    doc="Incremental dedup — the daily-crawl shape: a NEW batch of "
    "documents is checked against the EXISTING corpus only (shingle "
    "equi-join restricted to batch x corpus; never batch x batch or "
    "corpus x corpus), and each batch doc is flagged if any corpus "
    "doc reaches Jaccard >= 0.2. At 100 TB the corpus shingle side is "
    "a pre-materialized index table written once and re-read per "
    "batch; the per-batch cost then scales with the BATCH size, not "
    "the corpus — the property that makes rolling ingestion feasible",
    tags=("dedup", "ext", "pipeline"),
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    in_corpus = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint") % _INCR_SPLIT_MOD < _INCR_CORPUS_LT
    )
    side = load(spark, sf_dir, "documents").select(
        "doc_id", in_corpus.alias("in_corpus")
    )
    sized = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    # one frame carrying (doc_id, shingle, n, in_corpus); both the
    # batch and corpus branches below are column-pruned scans of it
    tagged = track_persist(
        sh.join(sized, "doc_id").join(side, "doc_id")
    )
    batch = tagged.filter(~F.col("in_corpus")).select(
        F.col("doc_id").alias("batch_id"), "shingle", F.col("n").alias("na")
    )
    corpus = tagged.filter(F.col("in_corpus")).select(
        F.col("doc_id").alias("corpus_id"), "shingle", F.col("n").alias("nb")
    )
    hits = (
        batch.join(corpus, "shingle")
        .groupBy("batch_id", "corpus_id", "na", "nb")
        .agg(F.count("*").alias("n_common"))
    )
    dup = (
        hits.filter(
            F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common")) >= 0.2
        )
        .select("batch_id")
        .distinct()
    )
    return (
        side.filter(~F.col("in_corpus"))
        .join(dup.withColumnRenamed("batch_id", "doc_id").withColumn("_d", F.lit(1)), "doc_id", "left")
        .select("doc_id", F.col("_d").isNotNull().alias("is_dup"))
    )


# ---------------------------------------------------------------------------
# embedding similarity
# ---------------------------------------------------------------------------

# Pair cosine with pre-computed norms: the dot is the only per-pair
# lambda; |a|,|b| are computed once per *row* upstream. Same fold order
# as the inline form, so the oracle (which folds inline) is bit-equal.
_DOT_AB_SPARK = (
    "aggregate(zip_with(av, bv, (x, y) -> x * y), cast(0.0 as double), (acc, v) -> acc + v)"
)
_NORM_SPARK = (
    "sqrt(aggregate(transform(v, x -> x * x), cast(0.0 as double), (acc, v) -> acc + v))"
)

_COS_EXPR_DUCK = (
    "list_sum(list_transform(range(1, 65), i -> av[i] * bv[i]))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> av[i] * av[i])))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> bv[i] * bv[i]))))"
)


_COS_NEAR_DUP_THRESHOLD = 0.45  # testdata embeddings are near-random; 0.45 yields real pairs
_COS_TILE_ROWS = 65536  # block granularity: two tiles of vectors per task (~67 MB)
_COS_CHUNK = 256  # A-side slab: peak sims block = 256 x 65536 x 8 B ~ 134 MB


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS av, b.v AS bv
  FROM e a JOIN e b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, floor(({_COS_EXPR_DUCK}) * 1e4 + 0.5) / 1e4 AS cos_sim
FROM pairs WHERE {_COS_EXPR_DUCK} > {_COS_NEAR_DUP_THRESHOLD}
""",
    doc="Embedding-cosine near-dup: pairs above cosine threshold. "
    "Brute-force O(n^2) is the correctness baseline; sim_lsh_bucketed "
    "is the scale path (bucket first, verify within bucket)",
    tags=("dedup", "similarity", "ext"),
)
def dedup_embedding_cosine(
    spark: SparkSession, sf_dir: str, stratum_mod: int | None = None
) -> DataFrame:
    """Executor-side block self-join — the driver never touches data.

    All-pairs brute force is inherently O(n²) compute; the scalable
    shape distributes it: split ids into G blocks of <= _COS_TILE_ROWS
    rows, ``explode`` each row to its G block-pairs ``(min(g,h),
    max(g,h))`` (G replicas per row — with G = ceil(n/tile) the
    shuffle carries n·G = n²/tile rows, so it grows QUADRATICALLY
    like the compute: acceptable only below the scale where
    ``sim_lsh_bucketed`` takes over as the documented scale path;
    this query is the exact-answer correctness baseline), then one
    ``applyInPandas`` per block pair computes the
    block×block similarity with chunked BLAS matmuls. Every unordered
    pair is produced by exactly one group: blocks are disjoint, so an
    off-diagonal group enumerates ALL |A|x|B| combinations (ids
    interleave across blocks — emit (min, max), do NOT orient by
    side), and the diagonal group takes its upper triangle. The A side
    is processed in _COS_CHUNK-row slabs so peak per-task memory is
    one slab x tile similarity block (~134 MB) + two tiles of vectors,
    NOT a tile x tile matrix. The only driver action is a count() to
    size G; real near-dup at 100 TB routes through sim_lsh_bucketed.

    BLAS matmul uses pairwise/FMA summation, which can differ from the
    oracle's sequential fold in the last ulp — enough to flip a pair
    sitting exactly on the threshold. So BLAS is only the candidate
    pre-filter (threshold minus slack); survivors are re-scored with
    the same left-to-right fold the oracle uses before the exact
    threshold + rounding are applied.
    """
    import numpy as np
    import pandas as pd

    from ..deploy import ensure_worker_imports

    thr = _COS_NEAR_DUP_THRESHOLD
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if stratum_mod is not None:
        # deterministic audit stratum: restrict the n^2 baseline to
        # vec_id % K == 0 (dedup_keep_lsh_recall's sampled-audit mode)
        emb = emb.filter(F.col("vec_id") % stratum_mod == 0)
    ensure_worker_imports(emb)
    if stratum_mod is None:
        # unfiltered scan: exact row count from parquet footers, no job
        from ..plans.two_phase import parquet_rows

        n = parquet_rows(sf_dir, "embeddings")
        if n is None:
            n = emb.count()
    else:
        n = emb.count()  # one scalar action: sizes the block grid
    n_blocks = max(1, -(-n // _COS_TILE_ROWS))

    def seq_dot(a, b):
        # Strict left-to-right accumulation, matching DuckDB list_sum.
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    empty = pd.DataFrame(
        {
            "vec_a": pd.Series([], dtype="int64"),
            "vec_b": pd.Series([], dtype="int64"),
            "cos_sim": pd.Series([], dtype="float64"),
        }
    )

    def block_pair_cosine(key, pdf):
        gi, gj = key
        side_i = pdf[pdf["g"] == gi]
        if side_i.empty:
            return empty
        ida = side_i["vec_id"].to_numpy()
        A = np.vstack(side_i["v"].to_numpy())
        diagonal = gi == gj
        if diagonal:
            idb, B = ida, A
        else:
            side_j = pdf[pdf["g"] == gj]
            if side_j.empty:
                return empty
            idb = side_j["vec_id"].to_numpy()
            B = np.vstack(side_j["v"].to_numpy())
        an = np.sqrt((A * A).sum(axis=1))
        bn = np.sqrt((B * B).sum(axis=1))
        out_a, out_b, out_cs = [], [], []
        # Chunk the A side: one slab x |B| similarity block at a time.
        for lo in range(0, len(ida), _COS_CHUNK):
            hi = lo + _COS_CHUNK
            sims = A[lo:hi] @ B.T
            sims /= an[lo:hi, None]
            sims /= bn[None, :]
            if diagonal:
                # upper triangle only: each within-block pair once
                mask = ida[lo:hi, None] < idb[None, :]
            else:
                # disjoint blocks: EVERY (u, v) combination is a
                # distinct unordered pair; id order is fixed at emit
                mask = np.ones(sims.shape, dtype=bool)
            ai, bi = np.where(mask & (sims > thr - 1e-9))
            # Pre-filter with slack; the exact fold decides membership.
            for i, j in zip(ai + lo, bi):
                av, bv = A[i], B[j]
                cs = seq_dot(av, bv) / (
                    np.sqrt(seq_dot(av, av)) * np.sqrt(seq_dot(bv, bv))
                )
                if cs > thr:
                    u, v = int(ida[i]), int(idb[j])
                    out_a.append(min(u, v))
                    out_b.append(max(u, v))
                    out_cs.append(np.floor(cs * 1e4 + 0.5) / 1e4)
        return pd.DataFrame(
            {
                "vec_a": pd.Series(out_a, dtype="int64"),
                "vec_b": pd.Series(out_b, dtype="int64"),
                "cos_sim": pd.Series(out_cs, dtype="float64"),
            }
        )

    blocked = emb.withColumn("g", (F.col("vec_id") % n_blocks).cast("int"))
    replicated = (
        blocked.withColumn(
            "h", F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1)))
        )
        .withColumn("pi", F.least("g", "h"))
        .withColumn("pj", F.greatest("g", "h"))
    )
    return replicated.groupBy("pi", "pj").applyInPandas(
        block_pair_cosine, "vec_a long, vec_b long, cos_sim double"
    )


_BRUTEFORCE_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, q.v AS av, c.v AS bv
  FROM e q JOIN e c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
),
scored AS (
  SELECT query_id, neighbor_id, {_COS_EXPR_DUCK} AS cs FROM pairs
)
SELECT query_id, neighbor_id, floor((cs) * 1e4 + 0.5) / 1e4 AS cos_sim, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 5
"""


@query(
    "sim_topk_bruteforce",
    oracle=_BRUTEFORCE_ORACLE,
    doc="ANN baseline: brute-force cosine top-5 for 10 query vectors. "
    "Scale path: broadcast the query batch, scan candidates once, "
    "partial top-k per partition then global merge (Spark does this via "
    "the window + AQE)",
    tags=("similarity", "ext"),
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Candidate side fans out across cores (single-file scan is one
    # partition); the 10-vector query batch broadcasts to each. Norms
    # are computed once per vector, not once per pair.
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .withColumn("nrm", F.expr(_NORM_SPARK))
    )
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("av"), F.col("nrm").alias("an")
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv"), F.col("nrm").alias("bn")
    )
    pairs = F.broadcast(q).join(c, F.col("neighbor_id") != F.col("query_id"))
    scored = pairs.withColumn("cs", F.try_divide(F.expr(_DOT_AB_SPARK), F.col("an") * F.col("bn")))
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", stable_round("cs", 4).alias("cos_sim"), "rank")
    )


_HYPERPLANE_DUCK = "((((j * 64 + (i - 1)) * 2654435761) % 2000) / 1000.0 - 1.0)"


@query(
    "sim_lsh_bucketed",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
proj AS (
  SELECT vec_id, j,
         list_sum(list_transform(range(1, 65), i -> v[i] * {_HYPERPLANE_DUCK})) AS dot
  FROM e CROSS JOIN (SELECT unnest(range(0, 8)) AS j)
),
buckets AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
)
SELECT vec_id, bucket FROM buckets
""",
    doc="Random-hyperplane LSH bucketing: 8 sign bits -> 256 buckets; "
    "the ANN scale path joins within-bucket only. Hyperplanes are "
    "deterministic pseudo-random (affine mod) so both engines agree",
    tags=("similarity", "ext"),
)
def sim_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # shared BLAS signature kernel (functions/lsh.py): signs are
    # bit-identical to the oracle's sequential fold
    sigs = sign_signatures(emb, 8)
    return sigs.select(
        "vec_id",
        F.expr(
            "aggregate(sequence(0, 7), 0L, (acc, j) -> "
            "acc + IF(signs[j], cast(shiftleft(1, j) as bigint), 0L))"
        ).alias("bucket"),
    )


_IVF_K = 8        # number of coarse centroids
_IVF_NPROBE = 2   # centroid lists probed per query
_IVF_SAMPLE = 256  # k-means training sample: vectors with vec_id < SAMPLE
_IVF_ITERS = 2    # Lloyd iterations (fixed, deterministic)

# norm of a centroid array column `cv`
_NORM_CV_SPARK = (
    "sqrt(aggregate(transform(cv, x -> x * x), cast(0.0 as double), (acc, v) -> acc + v))"
)


def _ivf_kmeans_cte() -> str:
    """DuckDB CTE chain for the deterministic sampled k-means:
    c0 = first K vectors, then _IVF_ITERS rounds of (cosine assign ->
    element-wise mean rounded to 1e-6). The 1e-6 rounding is what makes
    cross-engine parity robust: Spark and DuckDB may sum the members in
    different orders, but a ~1e-16 relative ulp difference cannot move
    a value across a 1e-6 grid except with negligible probability."""
    parts = [
        f"samp AS (SELECT vec_id, v FROM e WHERE vec_id < {_IVF_SAMPLE}),",
        "dims AS (SELECT unnest(generate_series(1, 64)) AS dim),",
        f"c0 AS (SELECT vec_id AS cent_id, v AS cv FROM e WHERE vec_id < {_IVF_K}),",
    ]
    for it in range(1, _IVF_ITERS + 1):
        parts.append(
            f"""a{it} AS (
  SELECT vec_id, cent_id, v FROM (
    SELECT s.vec_id, c.cent_id, s.v,
           row_number() OVER (PARTITION BY s.vec_id
                              ORDER BY {_COS_VC_DUCK} DESC, c.cent_id) AS rn
    FROM samp s CROSS JOIN c{it - 1} c
  ) WHERE rn = 1
),
c{it} AS (
  SELECT cent_id, list(xa ORDER BY dim) AS cv FROM (
    SELECT cent_id, dim, floor(avg(v[dim]) * 1e6 + 0.5) / 1e6 AS xa
    FROM a{it} CROSS JOIN dims GROUP BY cent_id, dim
  ) GROUP BY cent_id
),"""
        )
    parts.append(f"cent AS (SELECT cent_id, cv FROM c{_IVF_ITERS}),")
    return "\n".join(parts)


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Sampled k-means centroids (the honest IVF shape at 100 TB: train
    on a bounded DRIVER-COLLECTED sample, broadcast the K centroids):
    deterministic init from the first K vectors, _IVF_ITERS Lloyd
    rounds with cosine assignment (ties -> lowest cent_id), element-wise
    means rounded to 1e-6 — the exact mirror of ``_ivf_kmeans_cte``.

    The Lloyd rounds run on the driver: the sample is bounded
    (_IVF_SAMPLE rows, one pruned scan to collect), so iterating in
    local Python costs microseconds where the equivalent chain of tiny
    crossJoin/window/groupBy stages costs ~15 Spark stage launches.
    At 100 TB the sample stays bounded — only the ASSIGN/probe phase
    over the full table is distributed, against broadcast centroids.
    """
    import math

    rows = emb.filter(F.col("vec_id") < _IVF_SAMPLE).select("vec_id", "v").collect()
    rows.sort(key=lambda r: r.vec_id)
    samp = [(int(r.vec_id), [float(x) for x in r.v]) for r in rows]
    cent = {vid: v for vid, v in samp if vid < _IVF_K}

    def dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    for _ in range(_IVF_ITERS):
        cn = {cid: math.sqrt(dot(cv, cv)) for cid, cv in cent.items()}
        members: dict[int, list[list[float]]] = {}
        for vid, v in samp:
            vn = math.sqrt(dot(v, v))
            best_cid, best_cc = -1, None
            # ascending cent_id + strict > == ORDER BY cc DESC, cent_id;
            # zero-norm vector/centroid => cosine NULL in DuckDB (x/0
            # is NULL there), which sorts LAST under DESC — mirror by
            # skipping None and falling back to the lowest cent_id
            for cid in sorted(cent):
                den = vn * cn[cid]
                cc = dot(v, cent[cid]) / den if den > 0 else None
                if cc is not None and (best_cc is None or cc > best_cc):
                    best_cid, best_cc = cid, cc
            if best_cid == -1:
                best_cid = sorted(cent)[0]
            members.setdefault(best_cid, []).append(v)
        # a centroid that loses every member drops out, exactly like the
        # oracle's GROUP BY
        cent = {}
        for cid, vs in members.items():
            cv = []
            for d in range(len(vs[0])):
                s = 0.0
                for v in vs:
                    s += v[d]
                cv.append(math.floor(s / len(vs) * 1e6 + 0.5) / 1e6)
            cent[cid] = cv
    return emb.sparkSession.createDataFrame(
        [(cid, cent[cid]) for cid in sorted(cent)], "cent_id bigint, cv array<double>"
    )
_COS_VC_DUCK = (
    "list_sum(list_transform(range(1, 65), i -> v[i] * cv[i]))"
    " / (sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i])))"
    " * sqrt(list_sum(list_transform(range(1, 65), i -> cv[i] * cv[i]))))"
)
_DOT_VC_SPARK = (
    "aggregate(zip_with(v, cv, (x, y) -> x * y), cast(0.0 as double), (acc, x) -> acc + x)"
)


_IVF_TOPK_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_ivf_kmeans_cte()}
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
    FROM e CROSS JOIN cent c WHERE e.vec_id < 10
  ) WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT DISTINCT q.query_id, a.vec_id AS neighbor_id
  FROM qprobe q JOIN assign a ON a.cent_id = q.cent_id
  WHERE a.vec_id <> q.query_id
),
scored AS (
  SELECT c.query_id, c.neighbor_id,
         list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i]))
           / (sqrt(list_sum(list_transform(range(1, 65), i -> qe.v[i] * qe.v[i])))
            * sqrt(list_sum(list_transform(range(1, 65), i -> ne.v[i] * ne.v[i])))) AS cs
  FROM cand c
  JOIN e qe ON qe.vec_id = c.query_id
  JOIN e ne ON ne.vec_id = c.neighbor_id
)
SELECT query_id, neighbor_id, floor((cs) * 1e4 + 0.5) / 1e4 AS cos_sim,
       CAST(rn AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cs DESC, neighbor_id) AS rn
  FROM scored
) WHERE rn <= 3
"""


@query(
    "sim_ivf_topk",
    oracle=_IVF_TOPK_ORACLE,
    doc="ANN scale path #2: IVF-Flat — coarse centroids from "
    "deterministic sampled k-means (bounded training sample, fixed "
    "Lloyd rounds, broadcast-K assignment), every vector assigned to "
    "its nearest centroid list, queries probe nprobe lists and rank "
    "only within probed lists. Candidate count ~ n*nprobe/K instead "
    "of n; at 100 TB the lists are additionally bucketed on disk",
    tags=("similarity", "ext"),
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .withColumn("nrm", F.expr(_NORM_SPARK))
    )
    # THE shared coarse-assignment definition (sources/ivf_index.py's
    # rank_centroids: crossJoin(broadcast centroids) + row_number
    # window — round-12 tried a literal-expression ranking here and
    # REVERTED it as measured slower; this call merely routes through
    # the one shared definition, identical plan, identical arithmetic
    # and tie-breaks, held by this query's own oracle). assign and
    # qprobe both branch off the (tiny, nprobe-capped) ranked frame —
    # persist so it materializes once.
    from ..sources.ivf_index import rank_centroids

    ranked = track_persist(
        rank_centroids(emb.select("vec_id", "v"), _ivf_centroids(emb))
        .filter(F.col("rn") <= max(1, _IVF_NPROBE))
        .select("vec_id", "cent_id", "rn")
    )
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    qprobe = (
        ranked.filter((F.col("vec_id") < 10) & (F.col("rn") <= _IVF_NPROBE))
        .select(F.col("vec_id").alias("query_id"), "cent_id")
    )
    # Each vector lands in exactly one centroid list and each query probes
    # distinct lists, so (query, neighbor) pairs are already unique — no
    # dedup shuffle needed (the oracle's DISTINCT is a no-op there too).
    cand = (
        F.broadcast(qprobe).join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("av"), F.col("nrm").alias("an")
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"), F.col("v").alias("bv"), F.col("nrm").alias("bn")
    )
    # qe is 10 rows; at cluster scale ne stays a shuffle join on the
    # probed-list partitions — broadcast only the query side.
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ne, "neighbor_id")
        .withColumn("cs", F.try_divide(F.expr(_DOT_AB_SPARK), F.col("an") * F.col("bn")))
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("cs"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(wq))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", stable_round("cs", 4).alias("cos_sim"), "rank")
    )


# Bump whenever the on-disk index layout or its build parameters
# change shape in a way the parquet schema alone would not reveal —
# stale indexes built by older code must miss the cache, not get
# silently reused (bench runs are not oracle-checked).
_IVF_INDEX_FORMAT = 2


def _index_cache_root() -> str:
    """Per-user 0700 cache root for build-once index artifacts. NOT the
    shared tempdir: a world-writable /tmp path is pre-creatable by
    another user, so the bare ``_SUCCESS`` stat in the build-if-absent
    checks would accept a poisoned or symlinked directory."""
    base = os.environ.get("SPARK_GRAFT_CACHE_DIR") or os.path.join(
        os.path.expanduser("~"), ".cache", "spark_graft"
    )
    os.makedirs(base, mode=0o700, exist_ok=True)
    try:
        os.chmod(base, 0o700)  # pre-existing dir keeps the contract too
    except OSError:
        pass
    return base


def _ivf_disk_index_path(sf_dir: str) -> str:
    """Per-(sf_dir, data-fingerprint, index-format+params) location
    under the per-user cache root: the fingerprint folds in the
    embeddings parquet's mtime+size (a regenerated testdata tree gets
    a fresh index instead of a stale one) AND the index format version
    + build parameters (changing _IVF_K/_IVF_SAMPLE/PQ layout must
    never silently reuse an index built by older code)."""
    import hashlib

    from .dataset_ops import _PQ_M, _PQ_SAMPLE

    src = os.path.join(sf_dir, "embeddings.parquet")
    try:
        if os.path.isdir(src):
            parts = sorted(
                (f, os.path.getmtime(os.path.join(r, f)), os.path.getsize(os.path.join(r, f)))
                for r, _d, fs in os.walk(src)
                for f in fs
            )
            sig = str(parts)
        else:
            sig = f"{os.path.getmtime(src):.0f}_{os.path.getsize(src)}"
    except OSError:
        sig = "na"
    params = (
        f"fmt{_IVF_INDEX_FORMAT}_k{_IVF_K}_s{_IVF_SAMPLE}"
        f"_pqm{_PQ_M}_pqs{_PQ_SAMPLE}"
    )
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{sig}|{params}".encode()
    ).hexdigest()[:12]
    return os.path.join(_index_cache_root(), f"ivf_{key}")


@query(
    "sim_ivf_disk_topk",
    oracle=_IVF_TOPK_ORACLE,
    doc="ANN scale path #2b: the IVF index ON DISK "
    "(sources/ivf_index.py) — vectors parquet-partitioned by their "
    "coarse-quantizer list id, built once per dataset fingerprint and "
    "amortized over every query batch (the pay-once index posture; "
    "the build-if-absent check is a filesystem stat). A search "
    "probing nprobe lists resolves its cent_id IN (...) filter at "
    "planning time, so the other K - nprobe list directories are "
    "never opened (PartitionFilters in the scan — plan-asserted in "
    "tests/test_ivf_index.py). Same centroids, probe tie-breaks, "
    "exact-fold cosine and rounding as sim_ivf_topk, so the two "
    "queries return identical rows and share one oracle",
    tags=("similarity", "ext"),
)
def sim_ivf_disk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.ivf_index import build_ivf_index, search_ivf_index

    path = _ivf_disk_index_path(sf_dir)
    if not os.path.exists(os.path.join(path, "vectors", "_SUCCESS")):
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        build_ivf_index(emb, path)
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    return search_ivf_index(
        spark, path, queries, k=3, nprobe=_IVF_NPROBE
    )


@query(
    "sim_ivf_disk_merge",
    # incremental == rebuild: the merged index must answer exactly like
    # a full-corpus build, which is what sim_ivf_topk's oracle computes
    oracle=_IVF_TOPK_ORACLE,
    doc="Incremental ANN index maintenance — the daily-crawl posture "
    "for the on-disk IVF index (FAISS IndexIVF.add): the index is "
    "seeded from the first half of the corpus (which contains the "
    "whole bounded k-means training sample, so the centroids are "
    "frozen exactly as a production index's are when new data "
    "arrives), then the remaining vectors are APPENDED to their list "
    "partitions against the stored centroids — no reclustering, no "
    "rewrite of existing lists, the dedup_incremental / u8_scd2_merge "
    "maintenance pattern applied to the vector index. Because the "
    "training sample is contained in the seed, seed-build + "
    "delta-append must equal a full rebuild bit for bit, so the query "
    "searches the MERGED index and is checked against the same "
    "full-corpus oracle as sim_ivf_topk — incremental == rebuild, "
    "verified row for row",
    tags=("similarity", "ext"),
)
def sim_ivf_disk_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..plans.two_phase import parquet_rows
    from ..sources.ivf_index import (
        append_ivf_index,
        build_ivf_index,
        search_ivf_index,
    )

    path = _ivf_disk_index_path(sf_dir) + "_merged"
    marker = os.path.join(path, "_MERGED")
    # A dir without the end-to-end marker is a partial build/append; a
    # marker without a vectors dir is a compaction-swap crash whose
    # recovery also failed — treat BOTH as absent (the marker alone
    # must never vouch for a missing layout).
    if not os.path.exists(marker) or not os.path.isdir(
        os.path.join(path, "vectors")
    ):
        shutil.rmtree(path, ignore_errors=True)
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        n = parquet_rows(sf_dir, "embeddings")
        if n is None:
            n = emb.count()
        # the cut must keep the whole k-means sample in the seed so the
        # frozen centroids equal a full rebuild's
        cut = max(_IVF_SAMPLE, n // 2)
        build_ivf_index(emb.filter(F.col("vec_id") < cut), path)
        append_ivf_index(emb.filter(F.col("vec_id") >= cut), path)
        with open(marker, "w") as f:
            f.write(str(cut))
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    return search_ivf_index(spark, path, queries, k=3, nprobe=_IVF_NPROBE)


@query(
    "sim_ivf_drift_audit",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_ivf_kmeans_cte()}
tot AS (SELECT count(*) AS n FROM e),
assign AS (
  SELECT vec_id, cc FROM (
    SELECT e.vec_id, {_COS_VC_DUCK} AS cc,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_VC_DUCK} DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
)
SELECT CASE WHEN a.vec_id < greatest({_IVF_SAMPLE}, t.n // 2)
            THEN 'seed' ELSE 'appended' END AS cohort,
       CAST(count(*) AS BIGINT) AS n_vecs,
       floor(avg(cc) * 1e6 + 0.5) / 1e6 AS mean_cos,
       floor(quantile_cont(cc, 0.5) * 1e6 + 0.5) / 1e6 AS p50_cos,
       floor(quantile_cont(cc, 0.1) * 1e6 + 0.5) / 1e6 AS p10_cos,
       floor(min(cc) * 1e6 + 0.5) / 1e6 AS min_cos
FROM assign a CROSS JOIN tot t
GROUP BY 1
""",
    doc="Centroid-drift audit for the frozen-quantizer stream: "
    "incremental append (sim_ivf_disk_merge, streaming/ann_ingest.py) "
    "freezes the coarse centroids at seed time, so as the arriving "
    "distribution drifts, vectors land ever farther from their winning "
    "centroid and recall decays silently. This is the staleness signal "
    "that triggers a rebuild — the sim_recall_eval pattern applied to "
    "index AGE: the assignment-cosine distribution (mean / median / "
    "p10 / min cos to the winning centroid) of the seed cohort vs the "
    "appended cohort, split at the same seed cut as sim_ivf_disk_merge "
    "(cut = max(sample, n/2), so the k-means sample is wholly in the "
    "seed). A widening gap between the two rows = rebuild. One "
    "broadcast-centroid assign pass over the corpus + a 2-key "
    "aggregate — same cost shape as the index build itself, no "
    "all-pairs work. Spark percentile() and DuckDB quantile_cont() "
    "share the continuous-interpolation definition (verified "
    "bit-identical in w13/sketch_quantiles)",
    tags=("similarity", "audit", "ext"),
)
def sim_ivf_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.two_phase import parquet_rows

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = parquet_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    cut = max(_IVF_SAMPLE, n // 2)
    # THE shared coarse-assignment definition (sources/ivf_index.py):
    # the audit must measure distance under the exact expression the
    # index assigns with, or the signal audits the wrong quantizer
    from ..sources.ivf_index import rank_centroids

    cent = _ivf_centroids(emb)
    assign = (
        rank_centroids(emb, cent)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cc")
    )
    cohort = F.when(F.col("vec_id") < cut, F.lit("seed")).otherwise(
        F.lit("appended")
    )
    return (
        assign.select(cohort.alias("cohort"), "cc")
        .groupBy("cohort")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            stable_round(F.avg("cc"), 6).alias("mean_cos"),
            stable_round(F.expr("percentile(cc, 0.5)"), 6).alias("p50_cos"),
            stable_round(F.expr("percentile(cc, 0.1)"), 6).alias("p10_cos"),
            stable_round(F.min("cc"), 6).alias("min_cos"),
        )
    )


# rebuild when the appended cohort's assignment-cosine band falls this
# far below the seed cohort's (6-dp grid; the monitor-side twin in
# streaming/ann_drift.py uses the same threshold on its ppb grid)
_REBUILD_GAP = 0.05


@query(
    "sim_ivf_rebuild_decision",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_ivf_kmeans_cte()}
tot AS (SELECT count(*) AS n FROM e),
assign AS (
  SELECT vec_id, cc FROM (
    SELECT e.vec_id, {_COS_VC_DUCK} AS cc,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_VC_DUCK} DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
stats AS (
  SELECT CASE WHEN a.vec_id < greatest({_IVF_SAMPLE}, t.n // 2)
              THEN 'seed' ELSE 'appended' END AS cohort,
         floor(avg(cc) * 1e6 + 0.5) / 1e6 AS mean_cos,
         floor(quantile_cont(cc, 0.1) * 1e6 + 0.5) / 1e6 AS p10_cos
  FROM assign a CROSS JOIN tot t
  GROUP BY 1
),
piv AS (
  SELECT max(CASE WHEN cohort = 'seed' THEN mean_cos END) AS seed_mean_cos,
         max(CASE WHEN cohort = 'appended' THEN mean_cos END)
           AS recent_mean_cos,
         max(CASE WHEN cohort = 'seed' THEN p10_cos END) AS seed_p10_cos,
         max(CASE WHEN cohort = 'appended' THEN p10_cos END)
           AS recent_p10_cos
  FROM stats
)
SELECT seed_mean_cos, recent_mean_cos,
       floor((seed_mean_cos - recent_mean_cos) * 1e6 + 0.5) / 1e6
         AS mean_gap,
       seed_p10_cos, recent_p10_cos,
       floor((seed_p10_cos - recent_p10_cos) * 1e6 + 0.5) / 1e6 AS p10_gap,
       CAST(CASE WHEN
           floor((seed_mean_cos - recent_mean_cos) * 1e6 + 0.5) / 1e6
             > {_REBUILD_GAP}
           OR floor((seed_p10_cos - recent_p10_cos) * 1e6 + 0.5) / 1e6
             > {_REBUILD_GAP}
         THEN 1 ELSE 0 END AS BIGINT) AS should_rebuild
FROM piv
""",
    doc="The drift signal turned into a DECISION — what actually "
    "consumes sim_ivf_drift_audit: compare the appended cohort's "
    "assignment-cosine band (mean and p10 against the frozen "
    "centroids) to the seed cohort's, emit the gaps and a "
    "should_rebuild verdict (either gap beyond the threshold = the "
    "frozen quantizer no longer represents what the stream is "
    "ingesting — rebuild, which re-trains centroids and starts a "
    "fresh index generation). One broadcast-centroid assign pass + a "
    "2-row pivot, O(1) output. Gaps subtract the ROUNDED cohort "
    "stats, so both engines compare identical 6-dp inputs and the "
    "boolean can never straddle an ulp. The seed cohort contains the "
    "bounded k-means training sample, whose in-sample advantage "
    "inflates the seed band by O(sample/cohort) — vanishing at real "
    "scale; the streaming twin (monitor_rebuild_decision + "
    "seed_drift_baseline in streaming/ann_drift.py) computes its "
    "baseline on HELD-OUT seed rows instead, persists it in the "
    "monitor table so compaction folding the seed partition cannot "
    "blind it, and applies the same threshold to the streamed "
    "per-batch rows; the lifecycle e2e drives signal -> decision -> "
    "compaction-survival -> rebuild -> fresh-generation resume end "
    "to end",
    tags=("similarity", "audit", "ext"),
)
def sim_ivf_rebuild_decision(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.two_phase import parquet_rows
    from ..sources.ivf_index import rank_centroids

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = parquet_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    cut = max(_IVF_SAMPLE, n // 2)
    cent = _ivf_centroids(emb)
    assign = (
        rank_centroids(emb, cent)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cc")
    )
    cohort = F.when(F.col("vec_id") < cut, F.lit("seed")).otherwise(
        F.lit("appended")
    )
    stats = (
        assign.select(cohort.alias("cohort"), "cc")
        .groupBy("cohort")
        .agg(
            stable_round(F.avg("cc"), 6).alias("mean_cos"),
            stable_round(F.expr("percentile(cc, 0.1)"), 6).alias("p10_cos"),
        )
    )
    piv = stats.agg(
        F.max(F.when(F.col("cohort") == "seed", F.col("mean_cos"))).alias(
            "seed_mean_cos"
        ),
        F.max(F.when(F.col("cohort") == "appended", F.col("mean_cos"))).alias(
            "recent_mean_cos"
        ),
        F.max(F.when(F.col("cohort") == "seed", F.col("p10_cos"))).alias(
            "seed_p10_cos"
        ),
        F.max(F.when(F.col("cohort") == "appended", F.col("p10_cos"))).alias(
            "recent_p10_cos"
        ),
    )
    mean_gap = stable_round(
        F.col("seed_mean_cos") - F.col("recent_mean_cos"), 6
    )
    p10_gap = stable_round(F.col("seed_p10_cos") - F.col("recent_p10_cos"), 6)
    return piv.select(
        "seed_mean_cos",
        "recent_mean_cos",
        mean_gap.alias("mean_gap"),
        "seed_p10_cos",
        "recent_p10_cos",
        p10_gap.alias("p10_gap"),
        (
            (mean_gap > _REBUILD_GAP) | (p10_gap > _REBUILD_GAP)
        ).cast("bigint").alias("should_rebuild"),
    )


_BAL_PPM = 1_000_000  # keep-rate resolution: parts per million


@query(
    "emb_cluster_balance",
    oracle=f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_ivf_kmeans_cte()}
assign AS (
  SELECT vec_id, cent_id FROM (
    SELECT e.vec_id, c.cent_id,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {_COS_VC_DUCK} DESC, c.cent_id) AS rn
    FROM e CROSS JOIN cent c
  ) WHERE rn = 1
),
stats AS (SELECT cent_id, count(*) AS n_vecs FROM assign GROUP BY cent_id),
tot AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total, count(*) AS k FROM stats),
rates AS (
  SELECT s.cent_id, s.n_vecs,
         least({_BAL_PPM}, ((t.total // t.k) * {_BAL_PPM}) // s.n_vecs) AS keep_ppm
  FROM stats s CROSS JOIN tot t
),
kept AS (
  SELECT a.cent_id, count(*) AS n_kept
  FROM assign a JOIN rates r ON r.cent_id = a.cent_id
  WHERE CAST(('0x' || substr(md5(CAST(a.vec_id AS VARCHAR)), 1, 12)) AS BIGINT)
        % {_BAL_PPM} < r.keep_ppm
  GROUP BY a.cent_id
)
SELECT r.cent_id, r.n_vecs, r.keep_ppm, coalesce(k.n_kept, 0) AS n_kept
FROM rates r LEFT JOIN kept k ON k.cent_id = r.cent_id
""",
    doc="Cluster-balanced diversity resampling (the SemDeDup-family "
    "curation step): assign every embedding to its nearest sampled "
    "k-means centroid (same bounded-sample training as sim_ivf_topk, "
    "broadcast-K assignment), then compute a per-cluster DETERMINISTIC "
    "keep rate that downsamples over-represented clusters toward the "
    "uniform target, and count the md5-hash-selected survivors. All "
    "rates are exact integer ppm arithmetic so both engines pick the "
    "identical survivor set; per-vector work is one broadcast "
    "crossJoin + one hash filter — a single scan shape at any corpus "
    "size (the K-row rate table broadcasts)",
    tags=("similarity", "dataset", "ext"),
)
def emb_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .withColumn("nrm", F.expr(_NORM_SPARK))
    )
    cent = _ivf_centroids(emb).withColumn("cn", F.expr(_NORM_CV_SPARK))
    pairs = emb.crossJoin(F.broadcast(cent)).withColumn(
        "cc", F.try_divide(F.expr(_DOT_VC_SPARK), F.col("nrm") * F.col("cn"))
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("cc"), "cent_id")
    # the assignment is scanned twice (stats, survivor count) — persist
    # the 2-column frame, not the vectors
    assign = track_persist(
        pairs.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id")
    )
    stats = assign.groupBy("cent_id").agg(F.count("*").alias("n_vecs"))
    tot = stats.agg(
        F.sum("n_vecs").cast("bigint").alias("total"), F.count("*").alias("k")
    )
    # exact integer ppm: (total div k) * PPM div n_vecs on both engines.
    # K rows, consumed by two branches (survivor filter + final join) —
    # persist so the stats/tot aggregations run once.
    rates = track_persist(
        stats.crossJoin(F.broadcast(tot)).select(
            "cent_id",
            "n_vecs",
            F.least(
                F.lit(_BAL_PPM).cast("bigint"),
                F.expr(f"(total div k) * {_BAL_PPM} div n_vecs"),
            ).alias("keep_ppm"),
        )
    )
    vec_hash = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint") % _BAL_PPM
    )
    kept = (
        assign.join(F.broadcast(rates.select("cent_id", "keep_ppm")), "cent_id")
        .filter(vec_hash < F.col("keep_ppm"))
        .groupBy("cent_id")
        .agg(F.count("*").alias("_nk"))
    )
    return rates.join(F.broadcast(kept), "cent_id", "left").select(
        "cent_id",
        "n_vecs",
        "keep_ppm",
        F.coalesce(F.col("_nk"), F.lit(0)).cast("bigint").alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "que", "y", "en", "los"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "fr": ["le", "les", "des", "et", "est", "une"],
}


def _sw_list_sql(lang: str) -> str:
    return "[" + ", ".join(f"'{w}'" for w in _STOPWORDS[lang]) + "]"


_LANGID_ORACLE = f"""
WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
c AS (
  SELECT doc_id, lang,
         CAST(len(list_filter(w, x -> list_contains({_sw_list_sql('en')}, x))) AS BIGINT) AS n_en,
         CAST(len(list_filter(w, x -> list_contains({_sw_list_sql('es')}, x))) AS BIGINT) AS n_es,
         CAST(len(list_filter(w, x -> list_contains({_sw_list_sql('de')}, x))) AS BIGINT) AS n_de,
         CAST(len(list_filter(w, x -> list_contains({_sw_list_sql('fr')}, x))) AS BIGINT) AS n_fr
  FROM t
)
SELECT doc_id, lang, n_en, n_es, n_de, n_fr,
       CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en >= n_fr THEN 'en'
            WHEN n_es >= n_de AND n_es >= n_fr THEN 'es'
            WHEN n_de >= n_fr THEN 'de'
            ELSE 'fr' END AS pred_lang
FROM c
"""


@query(
    "text_langid",
    oracle=_LANGID_ORACLE,
    doc="Language-ID heuristic: stopword-lexicon hit counts + "
    "deterministic argmax. Pure higher-order array functions, one scan",
    tags=("text", "ext"),
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", "lang", F.split(F.lower("text"), " ").alias("w"))

    def hits(lang: str):
        arr = F.array(*[F.lit(x) for x in _STOPWORDS[lang]])
        return F.size(F.filter(F.col("w"), lambda x: F.array_contains(arr, x))).cast("bigint")

    c = t.select(
        "doc_id",
        "lang",
        hits("en").alias("n_en"),
        hits("es").alias("n_es"),
        hits("de").alias("n_de"),
        hits("fr").alias("n_fr"),
    )
    pred = (
        F.when(
            (F.col("n_en") >= F.col("n_es"))
            & (F.col("n_en") >= F.col("n_de"))
            & (F.col("n_en") >= F.col("n_fr")),
            "en",
        )
        .when((F.col("n_es") >= F.col("n_de")) & (F.col("n_es") >= F.col("n_fr")), "es")
        .when(F.col("n_de") >= F.col("n_fr"), "de")
        .otherwise("fr")
    )
    return c.withColumn("pred_lang", pred)


_QUALITY_ORACLE = f"""
WITH t AS (
  SELECT doc_id, text, n_chars, string_split(lower(text), ' ') AS w FROM documents
), m AS (
  SELECT doc_id, n_chars,
         CAST(len(w) AS BIGINT) AS n_tokens,
         CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(w, x -> list_contains({_sw_list_sql('en')}, x))) AS BIGINT) AS n_stop
  FROM t
)
SELECT doc_id, n_tokens, n_punct, n_stop,
       floor((n_chars * 1.0 / n_tokens) * 1e4 + 0.5) / 1e4 AS avg_token_len,
       floor((n_stop * 1.0 / n_tokens) * 1e4 + 0.5) / 1e4 AS stopword_ratio,
       floor((least(n_tokens / 50.0, 1.0) * 0.5
             + (n_stop * 1.0 / n_tokens) * 0.3
             + (1.0 - least(n_punct * 1.0 / n_tokens, 1.0)) * 0.2) * 1e4 + 0.5) / 1e4 AS quality
FROM m
"""


@query(
    "text_quality_score",
    oracle=_QUALITY_ORACLE,
    doc="Quality scoring: length/punctuation/stopword-ratio features + "
    "composite score — single-scan column arithmetic",
    tags=("text", "ext"),
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sw = F.array(*[F.lit(x) for x in _STOPWORDS["en"]])
    t = docs.select(
        "doc_id", "text", "n_chars", F.split(F.lower("text"), " ").alias("w")
    )
    m = t.select(
        "doc_id",
        "n_chars",
        F.size("w").cast("bigint").alias("n_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[.,!?;:]"), 0)).cast("bigint").alias("n_punct"),
        F.size(F.filter(F.col("w"), lambda x: F.array_contains(sw, x))).cast("bigint").alias("n_stop"),
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "n_punct",
        "n_stop",
        stable_round(F.col("n_chars") / F.col("n_tokens"), 4).alias("avg_token_len"),
        stable_round(F.col("n_stop") / F.col("n_tokens"), 4).alias("stopword_ratio"),
        stable_round(
            F.least(F.col("n_tokens") / 50.0, F.lit(1.0)) * 0.5
            + (F.col("n_stop") / F.col("n_tokens")) * 0.3
            + (1.0 - F.least(F.col("n_punct") / F.col("n_tokens"), F.lit(1.0))) * 0.2,
            4,
        ).alias("quality"),
    )


@query(
    "text_token_count",
    oracle=r"""
SELECT doc_id,
       CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws_tokens,
       CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
FROM documents
""",
    doc="Token counting: whitespace tokens + BPE-ish regex tokens "
    "(letter runs / digit runs / single symbols)",
    tags=("text", "ext"),
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all(F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ') AS fingerprint
FROM documents
""",
    doc="Document fingerprint (key-collision canonicalization): sorted "
    "distinct token join — dedups reworded/reordered copies",
    tags=("text", "dedup", "ext"),
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.array_join(F.array_sort(F.array_distinct(F.split(F.lower("text"), " "))), " ").alias(
            "fingerprint"
        ),
    )


@query(
    "text_vocab_topk",
    oracle="""
SELECT tok, cnt FROM (
  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
  GROUP BY tok
) ORDER BY cnt DESC, tok LIMIT 20
""",
    doc="Corpus vocabulary: global token frequencies, top-20. The "
    "explode+groupBy is map-side-combined by Spark (partial counts per "
    "partition before the shuffle) and the global top-k is orderBy+"
    "limit = TakeOrderedAndProject (per-partition heads + driver merge, "
    "never a full sort) — both survive 100 TB",
    tags=("text", "ext"),
)
def text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    return (
        toks.groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(20)
    )


@query(
    "emb_quantize_int8",
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
m AS (SELECT vec_id, v, list_min(v) AS mn, list_max(v) AS mx FROM e),
q AS (
  SELECT vec_id, mn, mx,
         list_transform(v, x -> CAST(floor((x - mn) / ((mx - mn) / 255.0) + 0.5) AS BIGINT)) AS qv
  FROM m
)
SELECT vec_id,
       floor(mn * 1e6 + 0.5) / 1e6 AS v_min,
       floor(mx * 1e6 + 0.5) / 1e6 AS v_max,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(qv[1] AS BIGINT) AS q_first,
       CAST(qv[32] AS BIGINT) AS q_mid
FROM q
""",
    doc="Per-vector int8 quantization for ANN storage (min-max affine "
    "to [0,255]): 4x smaller index, one scan, pure array expressions. "
    "Verified via the full-array checksum q_sum plus spot dims — every "
    "arithmetic step is the same IEEE op sequence on both engines, so "
    "the quantized codes are exact, not approximate",
    tags=("similarity", "ext"),
)
def emb_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    m = emb.select(
        "vec_id", "v", F.array_min("v").alias("mn"), F.array_max("v").alias("mx")
    )
    scale = (F.col("mx") - F.col("mn")) / F.lit(255.0)
    q = m.select(
        "vec_id",
        "mn",
        "mx",
        F.transform(
            "v", lambda x: F.floor((x - F.col("mn")) / scale + F.lit(0.5)).cast("bigint")
        ).alias("qv"),
    )
    return q.select(
        "vec_id",
        stable_round("mn", 6).alias("v_min"),
        stable_round("mx", 6).alias("v_max"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.element_at("qv", 1).alias("q_first"),
        F.element_at("qv", 32).alias("q_mid"),
    )


@query(
    "text_repetition_filter",
    oracle="""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(w) AS BIGINT) AS n_words,
         CAST(len(list_distinct(w)) AS BIGINT) AS n_unique,
         CAST(list_max(list_transform(list_distinct(w),
              x -> len(list_filter(w, y -> y = x)))) AS BIGINT) AS top_cnt,
         list_sum(list_transform(w, x -> CAST(len(x) AS DOUBLE))) / len(w) AS mwl
  FROM t
)
SELECT doc_id, n_words, n_unique,
       floor((n_unique * 1.0 / n_words) * 1e6 + 0.5) / 1e6 AS uniq_ratio,
       floor((top_cnt * 1.0 / n_words) * 1e6 + 0.5) / 1e6 AS top_frac,
       floor(mwl * 1e6 + 0.5) / 1e6 AS mean_word_len,
       CAST(CASE WHEN n_words >= 20
                  AND n_unique * 1.0 / n_words >= 0.45
                  AND top_cnt * 1.0 / n_words <= 0.10
             THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM m
""",
    doc="Gopher-style repetition quality filter: word count bounds, "
    "distinct-word ratio, most-frequent-word fraction, mean word "
    "length; keep = all rules pass. Single scan, pure higher-order "
    "array functions (the per-doc top-count is O(unique*words) inside "
    "one row — no shuffle, no UDF). The keep/drop flags are exact "
    "across engines: every ratio is one IEEE division of the same two "
    "integers",
    tags=("text", "ext"),
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    t = docs.select("doc_id", F.split(F.lower("text"), " ").alias("w"))
    uniq = F.array_distinct("w")
    m = t.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_words"),
        F.size(uniq).cast("bigint").alias("n_unique"),
        F.array_max(
            F.transform(uniq, lambda x: F.size(F.filter(F.col("w"), lambda y: y == x)))
        )
        .cast("bigint")
        .alias("top_cnt"),
        (
            F.aggregate(
                "w", F.lit(0.0), lambda acc, x: acc + F.length(x).cast("double")
            )
            / F.size("w")
        ).alias("mwl"),
    )
    ur = F.col("n_unique") / F.col("n_words")
    tf = F.col("top_cnt") / F.col("n_words")
    return m.select(
        "doc_id",
        "n_words",
        "n_unique",
        stable_round(ur, 6).alias("uniq_ratio"),
        stable_round(tf, 6).alias("top_frac"),
        stable_round(F.col("mwl"), 6).alias("mean_word_len"),
        F.when(
            (F.col("n_words") >= 20) & (ur >= 0.45) & (tf <= 0.10), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_binary_meta",
    oracle="""
SELECT doc_id,
       octet_length(CAST(text AS BLOB)) AS byte_len,
       sha256(text) AS content_sha
FROM documents
""",
    doc="Multimodal column plumbing: opaque binary payload + typed "
    "metadata (byte length, content hash). Decode/feature-extract UDFs "
    "live in extensions.multimodal (stubbed — no media libs in image); "
    "this query proves the binary column path end-to-end",
    tags=("multimodal", "ext"),
)
def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    bin_col = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        F.octet_length(bin_col).alias("byte_len"),
        F.sha2(bin_col, 256).alias("content_sha"),
    )


@query(
    "multimodal_frame_sample",
    oracle="""
WITH frames AS (
  SELECT user_id AS video_id,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS frame_idx,
         octet_length(CAST(props AS BLOB)) AS payload_len
  FROM events
)
SELECT video_id, count(*) AS n_sampled,
       CAST(sum(payload_len) AS BIGINT) AS bytes_sampled
FROM frames WHERE frame_idx % 25 = 0
GROUP BY video_id
""",
    doc="Multimodal frame sampling (operators/multimodal."
    "sample_video_frames): 1 fps from a 25 fps stream as a pure modulo "
    "filter — at 100 TB the filter runs before any payload leaves the "
    "scan, so 96% of frame bytes are never read past the row group. "
    "Output audits what a feature-extraction pass would consume",
    tags=("multimodal", "ext"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.multimodal import sample_video_frames

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frames = ev.select(
        F.col("user_id").alias("video_id"),
        (F.row_number().over(w) - 1).cast("int").alias("frame_idx"),
        F.octet_length(F.encode("props", "utf-8")).alias("payload_len"),
    )
    return sample_video_frames(frames, every_n=25).groupBy("video_id").agg(
        F.count("*").alias("n_sampled"),
        F.sum("payload_len").alias("bytes_sampled"),
    )


# ---------------------------------------------------------------------------
# time-series similarity search (PAA/SAX sketch -> bucket join -> verify)
# ---------------------------------------------------------------------------

_SAX_LEN = 64     # fixed series length (first 64 events per user)
_SAX_SEGS = 4     # PAA segments
_SAX_TOPK = 3

_SAX_ORACLE = f"""
WITH ranked AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), ser AS (
  SELECT user_id, array_agg(value ORDER BY rn) AS vals
  FROM ranked WHERE rn <= {_SAX_LEN} GROUP BY user_id
  HAVING count(*) = {_SAX_LEN}
), sax AS (
  SELECT user_id, vals,
         list_aggregate(list_transform(
           list_transform(range(0, {_SAX_SEGS}),
             j -> list_sum(vals[j*{_SAX_LEN // _SAX_SEGS}+1 : j*{_SAX_LEN // _SAX_SEGS}+{_SAX_LEN // _SAX_SEGS}]) / {_SAX_LEN // _SAX_SEGS}),
           c -> CASE WHEN c < 50 THEN '0' ELSE '1' END),
           'string_agg', '') AS word
  FROM ser
), cand AS (
  SELECT a.user_id AS user_a, b.user_id AS user_b, a.word,
         sqrt(list_sum(list_transform(range(1, {_SAX_LEN + 1}),
              i -> (a.vals[i] - b.vals[i]) * (a.vals[i] - b.vals[i])))) AS d
  FROM sax a JOIN sax b ON a.word = b.word AND a.user_id <> b.user_id
)
SELECT user_a, user_b, word AS sax_word, CAST(rnk AS INTEGER) AS rank,
       floor(d * 1e6 + 0.5) / 1e6 AS dist
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_a ORDER BY d, user_b) AS rnk
  FROM cand
) WHERE rnk <= {_SAX_TOPK}
"""


@query(
    "ts_sax_similarity",
    oracle=_SAX_ORACLE,
    doc="Time-series similarity search (the PAPERS.md distributed "
    "data-series family, iSAX/Odyssey shape): each user's first 64 "
    "event values form a series; a PAA sketch (4 segment means) "
    "binned at the value midline yields a SAX word; candidate pairs "
    "come from ONE equi-join on the word (never all-pairs — the "
    "bucket join IS the scale path, like the LSH band join); exact "
    "Euclidean distance verifies candidates and a per-series "
    "partitioned window keeps the top-3. Series assembly is one "
    "grouped sort-struct collect; every fold is fixed left-to-right "
    "order on both engines",
    tags=("similarity", "timeseries", "ext"),
)
def ts_sax_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    seg = _SAX_LEN // _SAX_SEGS
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = ev.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= _SAX_LEN
    )
    ser = (
        ranked.groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_rn", "value"))),
                lambda s: s["value"],
            ).alias("vals"),
            F.count("*").alias("_n"),
        )
        .filter(F.col("_n") == _SAX_LEN)
    )
    coefs = [
        F.aggregate(
            F.slice("vals", j * seg + 1, seg),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / seg
        for j in range(_SAX_SEGS)
    ]
    word = F.concat(
        *[F.when(c < 50.0, F.lit("0")).otherwise(F.lit("1")) for c in coefs]
    )
    sax = track_persist(ser.select("user_id", "vals", word.alias("word")))
    a = sax.select(
        F.col("user_id").alias("user_a"), F.col("vals").alias("va"), "word"
    )
    b = sax.select(F.col("user_id").alias("user_b"), F.col("vals").alias("vb"), "word")
    dist = F.sqrt(
        F.aggregate(
            F.zip_with("va", "vb", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    cand = (
        a.join(b, "word")
        .filter(F.col("user_a") != F.col("user_b"))
        .select("user_a", "user_b", F.col("word").alias("sax_word"), dist.alias("_d"))
    )
    wr = Window.partitionBy("user_a").orderBy("_d", "user_b")
    return (
        cand.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= _SAX_TOPK)
        .select(
            "user_a",
            "user_b",
            "sax_word",
            "rank",
            stable_round(F.col("_d"), 6).alias("dist"),
        )
    )


_CNG_W = 32  # gram width (chars)
_CNG_S = 16  # stride

_CHAR_NGRAM_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lower(text) AS t FROM documents WHERE len(lower(text)) >= {_CNG_W}
),
g AS (
  SELECT DISTINCT doc_id,
         CAST(('0x' || substr(md5(substr(t, 1 + i * {_CNG_S}, {_CNG_W})), 1, 12)) AS BIGINT) AS gh
  FROM d CROSS JOIN (SELECT unnest(range(0, 200)) AS i)
  WHERE len(t) >= i * {_CNG_S} + {_CNG_W}
),
sizes AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY doc_id),
dup AS (SELECT gh FROM g GROUP BY gh HAVING count(*) > 1),
hits AS (
  SELECT g.doc_id, count(*) AS n_dup_grams
  FROM g JOIN dup ON dup.gh = g.gh GROUP BY g.doc_id
)
SELECT s.doc_id, s.n_grams, coalesce(h.n_dup_grams, 0) AS n_dup_grams,
       floor((coalesce(h.n_dup_grams, 0) * 1.0 / s.n_grams) * 1e6 + 0.5) / 1e6 AS dup_frac,
       (coalesce(h.n_dup_grams, 0) * 1.0 / s.n_grams) > 0.5 AS mostly_duplicated
FROM sizes s LEFT JOIN hits h ON h.doc_id = s.doc_id
"""


@query(
    "dedup_char_ngram",
    oracle=_CHAR_NGRAM_ORACLE,
    doc="Exact-substring duplication audit (the Lee et al. "
    "'Deduplicating Training Data Makes Language Models Better' "
    "family, char-level): strided 32-char grams per doc, hashed to "
    "md5-derived 48-bit ids ON BOTH ENGINES (so even a hash collision "
    "is seen identically), grams present in more than one doc-position "
    "set are duplicated; per-doc duplicated fraction + a "
    "mostly-duplicated flag. The shuffle carries 8-byte hashes, never "
    "substrings — at 100 TB this is the practical exact-substring "
    "audit (a full suffix array is its own system; this catches the "
    "boilerplate/mirror mass at a fraction of the cost). Within-doc "
    "self-repetition is the separate text_repetition_filter",
    tags=("dedup", "text", "ext"),
)
def dedup_char_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    d = docs.select("doc_id", F.lower("text").alias("t")).filter(
        F.length("t") >= _CNG_W
    )
    # bound i by this row's length (and the oracle's fixed 200 cap);
    # substr on the bound column is O(width) per element — one pass
    grams = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, "
                f"least(cast(floor((length(t) - {_CNG_W}) / {_CNG_S}) as int), 199)), "
                f"i -> conv(substr(md5(substr(t, 1 + i * {_CNG_S}, {_CNG_W})), 1, 12), 16, 10))"
            )
        ).alias("ghs"),
    ).select("doc_id", F.col("ghs").cast("bigint").alias("gh")).distinct()
    g = track_persist(grams)
    dup = (
        g.groupBy("gh")
        .agg(F.count("*").alias("_n"))
        .filter(F.col("_n") > 1)
        .select("gh", F.lit(1).alias("_isdup"))
    )
    # one doc-keyed aggregation over the dup-flagged grams replaces the
    # round-5 plan's two per-doc aggs + doc_id join (r6: one fewer
    # shuffle of g, one fewer SMJ; the flag join reuses the gh
    # partitioning the dup agg already established)
    flagged = g.join(dup, "gh", "left")
    agg = flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_grams"),
        F.count("_isdup").alias("n_dup_grams"),
    )
    frac = F.col("n_dup_grams") / F.col("n_grams")
    return agg.select(
        "doc_id",
        "n_grams",
        "n_dup_grams",
        stable_round(frac, 6).alias("dup_frac"),
        (frac > 0.5).alias("mostly_duplicated"),
    )


_ESS_W = 32  # minimum duplicated-span length (chars)

_EXACT_SUBSTRING_ORACLE = f"""
WITH d AS (
  SELECT doc_id, lower(text) AS t, len(lower(text)) AS n FROM documents
),
g AS (
  -- lateral per-row range: every position, no document-length cap
  -- (a fixed cap here silently diverged from the uncapped Spark side
  -- for docs longer than cap + W; round-5 review finding)
  SELECT doc_id, i AS pos,
         CAST(('0x' || substr(md5(substr(t, CAST(i + 1 AS INTEGER), {_ESS_W})), 1, 12)) AS BIGINT) AS gh
  FROM d, unnest(range(0, greatest(n - {_ESS_W} + 1, 0))) AS u(i)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING min(doc_id) <> max(doc_id)),
hits AS (SELECT g.doc_id, g.pos FROM g JOIN dup USING (gh)),
brks AS (
  SELECT doc_id, pos,
         CASE WHEN pos > coalesce(max(pos + {_ESS_W}) OVER (
              PARTITION BY doc_id ORDER BY pos
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         THEN 1 ELSE 0 END AS brk
  FROM hits
),
isl AS (
  SELECT doc_id, pos,
         sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM brks
),
spans AS (
  SELECT doc_id, island, min(pos) AS s, max(pos) + {_ESS_W} AS e
  FROM isl GROUP BY doc_id, island
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
         CAST(sum(e - s) AS BIGINT) AS dup_chars
  FROM spans GROUP BY doc_id
)
SELECT d.doc_id, CAST(d.n AS BIGINT) AS n_chars,
       coalesce(a.n_spans, 0) AS n_spans,
       coalesce(a.dup_chars, 0) AS dup_chars,
       CASE WHEN coalesce(d.n, 0) > 0
            THEN floor((coalesce(a.dup_chars, 0) * 1.0 / d.n) * 1e6 + 0.5) / 1e6
            ELSE 0.0 END AS dup_frac
FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
"""


@query(
    "dedup_exact_substring",
    oracle=_EXACT_SUBSTRING_ORACLE,
    doc="EXACT cross-doc duplicated-SPAN extraction (the Lee et al. "
    "suffix-array family, distributed): stride-1 char grams of width "
    f"W={_ESS_W} make span membership exact — a character belongs to "
    "a cross-doc duplicated substring of length >= W iff some W-gram "
    "covering it occurs in more than one document — so the per-doc "
    "union of duplicated-gram intervals (a gaps-and-islands merge, "
    "the engine's flagship operator, reused on character offsets) "
    "yields the same duplicated spans a suffix array reports at "
    "threshold W: n_spans maximal spans, dup_chars covered "
    "characters, dup_frac of the doc. Cross-doc means min(doc) != "
    "max(doc) per gram group, one aggregation, never a self-join. "
    "Every shuffle carries (48-bit md5-derived hash, doc_id, int "
    "offset) — never text — so the shuffle volume is ~12x corpus "
    "bytes, linear, the practical distributed equivalent of the "
    "suffix-grouping pass; dedup_char_ngram above is the strided "
    "cheap audit, this is the exact representative",
    tags=("dedup", "text", "ext"),
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = load(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    d = docs.select(
        "doc_id",
        F.lower("text").alias("t"),
        F.length(F.lower("text")).cast("long").alias("n"),
    )
    # stride-1 grams with their offsets; substr on the bound column is
    # O(W) per element — one pass, and t is dropped at the projection
    g = track_persist(
        d.filter(F.col("n") >= _ESS_W)
        .select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(length(t) - {_ESS_W} as int)), "
                    f"i -> conv(substr(md5(substr(t, i + 1, {_ESS_W})), 1, 12), 16, 10))"
                )
            ).alias("pos", "ghs"),
        )
        .select("doc_id", "pos", F.col("ghs").cast("bigint").alias("gh"))
    )
    # cross-doc duplicated grams: one aggregation on the hash key
    dup = (
        g.groupBy("gh")
        .agg(F.min("doc_id").alias("_lo"), F.max("doc_id").alias("_hi"))
        .filter(F.col("_lo") != F.col("_hi"))
        .select("gh")
    )
    hits = g.join(dup, "gh").select("doc_id", "pos")
    # interval union per doc: gaps-and-islands over [pos, pos + W)
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + _ESS_W).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = (F.col("pos") > F.coalesce(prev_end, F.lit(-1))).cast("int")
    isl = hits.select("doc_id", "pos", F.sum(brk).over(w).alias("island"))
    spans = isl.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + _ESS_W).alias("e")
    )
    agg = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"), F.sum(F.col("e") - F.col("s")).alias("dup_chars")
    )
    dup_chars = F.coalesce(F.col("dup_chars"), F.lit(0)).cast("long")
    # empty/null-text docs: dup_frac defined as 0.0 (no chars, none
    # duplicated) — ANSI mode would otherwise raise DIVIDE_BY_ZERO
    frac = F.when(
        F.coalesce(F.col("n_chars"), F.lit(0)) > 0,
        stable_round(dup_chars / F.col("n_chars"), 6),
    ).otherwise(F.lit(0.0))
    return (
        d.select("doc_id", F.col("n").alias("n_chars"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
            dup_chars.alias("dup_chars"),
            frac.alias("dup_frac"),
        )
    )


_TRIANGLE_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p0 AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
e AS (
  SELECT p.a, p.b FROM p0 p
  JOIN sizes sa ON sa.doc_id = p.a
  JOIN sizes sb ON sb.doc_id = p.b
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pernode AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY node
)
SELECT node, n_triangles FROM pernode
"""


@query(
    "graph_triangle_count",
    oracle=_TRIANGLE_ORACLE,
    doc="Triangle counting on the near-dup similarity graph (the "
    "clustering-coefficient building block), DEGREE-ORIENTED: edges "
    "point low-(degree, id) -> high-(degree, id), so every triangle "
    "is enumerated exactly once as a wedge at its lowest-order vertex "
    "and the wedge fan-out per node is bounded by its ORIENTED "
    "out-degree <= sqrt(2m) — the standard bound that keeps a skewed "
    "hub (a boilerplate doc similar to thousands) from exploding the "
    "wedge join. Input is the shared materialized edge table "
    "(_near_dup_edges), so the plan is degree agg + two equi-joins "
    "over a stored table, not a recomposition of the jaccard chain. "
    "Orientation is count-invariant: output matches the unoriented "
    "oracle exactly",
    tags=("graph", "dedup", "ext"),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    # total order (degree, id) packed into one long, oriented edges
    # published once as a bucketed table on s_rk (pay-the-shuffle-once)
    o = _oriented_edges_bucketed(spark, sf_dir)
    # wedges at the lowest-order vertex: both out-edges of s, ordered
    w1 = o.select("s", "s_rk", F.col("t").alias("b"), F.col("t_rk").alias("b_rk"))
    w2 = o.select(F.col("s").alias("s2"), F.col("s_rk"),
                  F.col("t").alias("c"), F.col("t_rk").alias("c_rk"))
    wedges = w1.join(w2, "s_rk").filter(F.col("b_rk") < F.col("c_rk"))
    # close: the (b, c) edge is oriented b -> c because b_rk < c_rk
    close = o.select(F.col("s_rk").alias("b_rk"), F.col("t_rk").alias("c_rk"))
    tri = wedges.join(close, ["b_rk", "c_rk"]).select(
        F.col("s").alias("a"), "b", "c"
    )
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count("*").cast("bigint").alias("n_triangles"))


# Composed from the brute-force and IVF oracles (the ground truth and
# the candidate ANN are the already-proven definitions, not
# re-derivations).
_RECALL_ORACLE = f"""
WITH bf AS ({_BRUTEFORCE_ORACLE}),
ivf AS ({_IVF_TOPK_ORACLE}),
hits AS (
  SELECT b.query_id, count(*) AS n_hits
  FROM bf b JOIN ivf i ON i.query_id = b.query_id
   AND i.neighbor_id = b.neighbor_id
  WHERE b.rank <= 3
  GROUP BY b.query_id
),
q AS (SELECT DISTINCT query_id FROM bf)
SELECT q.query_id, CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       floor((coalesce(h.n_hits, 0) / 3.0) * 1e6 + 0.5) / 1e6 AS recall_at_3
FROM q LEFT JOIN hits h ON h.query_id = q.query_id
"""


@query(
    "sim_recall_eval",
    oracle=_RECALL_ORACLE,
    doc="ANN quality audit — recall@3 of the IVF index against the "
    "brute-force ground truth, per query: the STANDARD metric every "
    "ANN deployment tracks. Both sides are the registered queries "
    "(shared definitions), intersected on (query, neighbor) and "
    "counted; the oracle composes the two already-proven component "
    "oracles. At scale the ground truth comes from a sampled query "
    "set (queries here are the fixed probe batch), so the audit costs "
    "one brute-force pass over the sample, not the corpus",
    tags=("similarity", "eval", "ext"),
)
def sim_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    bf = sim_topk_bruteforce(spark, sf_dir).filter(F.col("rank") <= 3)
    ivf = sim_ivf_topk(spark, sf_dir)
    hits = (
        bf.join(ivf, ["query_id", "neighbor_id"])
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


_NPROBE_AXIS = (1, 2, 4, 8)


# One curve, two queries: the disk layout stores the identical
# assignment, so sim_nprobe_sweep_disk is checked against the same
# oracle as the in-session sim_nprobe_sweep.
_NPROBE_SWEEP_ORACLE = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_ivf_kmeans_cte()}
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
  FROM ranked WHERE vec_id < 10
),
cand AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, q.probe_rn
  FROM qprobe q JOIN assign a
    ON a.cent_id = q.cent_id AND a.vec_id <> q.query_id
),
cpairs AS (
  SELECT c.query_id, c.neighbor_id, c.probe_rn, qa.v AS av, nb.v AS bv
  FROM cand c
  JOIN e qa ON qa.vec_id = c.query_id
  JOIN e nb ON nb.vec_id = c.neighbor_id
),
cscored AS (
  SELECT query_id, neighbor_id, probe_rn, {_COS_EXPR_DUCK} AS cs FROM cpairs
),
axis AS (SELECT unnest([{", ".join(str(x) for x in _NPROBE_AXIS)}]) AS np),
pern AS (
  SELECT s.query_id, s.neighbor_id, s.cs, x.np
  FROM cscored s CROSS JOIN axis x WHERE s.probe_rn <= x.np
),
topk AS (
  SELECT np, query_id, neighbor_id FROM (
    SELECT *, row_number() OVER (PARTITION BY np, query_id
                                 ORDER BY cs DESC, neighbor_id) AS rk
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
    "sim_nprobe_sweep",
    oracle=_NPROBE_SWEEP_ORACLE,
    doc="The nprobe tuning curve — dedup_threshold_sweep's "
    "measure-the-knob pattern applied to the IVF index: recall@3 vs "
    "brute-force ground truth AND candidate-scan cost at every probe "
    "width on one shared axis (1, 2, 4, 8 = full scan), from ONE "
    "assignment pass and ONE exact scoring of each (query, candidate) "
    "pair — each pair carries the probe rank of its list, so the "
    "per-width top-k just filters probe_rn <= nprobe; no per-width "
    "re-scan, no re-scoring. This is the report that picks nprobe for "
    "a recall SLO: read the recall column against the n_candidates "
    "column (the cost you pay for it). Composes the registered "
    "k-means/assignment definitions and the brute-force oracle; like "
    "every ANN audit here it runs on the bounded query sample — the "
    "top of the axis IS the brute-force baseline's cost by "
    "construction, which is what makes the curve complete",
    tags=("similarity", "eval", "ext"),
)
def sim_nprobe_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("nrm", F.expr(_NORM_SPARK))
    )
    # THE shared coarse-assignment definition (sources/ivf_index.py) —
    # multi-consumer intermediate (assign + qprobe both read it):
    # persist so the n x K cosine ranking runs once, not per consumer
    from ..registry import track_persist
    from ..sources.ivf_index import rank_centroids

    cent = _ivf_centroids(emb)
    ranked = track_persist(
        rank_centroids(emb.select("vec_id", "v"), cent).select(
            "vec_id", "cent_id", "rn"
        )
    )
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    qprobe = ranked.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "cent_id", F.col("rn").alias("probe_rn")
    )
    cand = (
        F.broadcast(qprobe)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"), "probe_rn")
    )
    qe = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    scored = (
        cand.join(F.broadcast(qe), "query_id")
        .join(ne, "neighbor_id")
        .withColumn(
            "cs", F.try_divide(F.expr(_DOT_AB_SPARK), F.col("an") * F.col("bn"))
        )
        .select("query_id", "neighbor_id", "probe_rn", "cs")
    )
    axis = spark.createDataFrame([(x,) for x in _NPROBE_AXIS], "nprobe int")
    pern = scored.crossJoin(F.broadcast(axis)).filter(
        F.col("probe_rn") <= F.col("nprobe")
    )
    wq = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cs"), "neighbor_id"
    )
    topk = pern.withColumn("rk", F.row_number().over(wq)).filter(F.col("rk") <= 3)
    bf3 = sim_topk_bruteforce(spark, sf_dir).filter(F.col("rank") <= 3).select(
        "query_id", "neighbor_id"
    )
    hits = (
        topk.join(bf3, ["query_id", "neighbor_id"])
        .groupBy("nprobe")
        .agg(F.count("*").alias("_nh"))
    )
    counts = pern.groupBy("nprobe").agg(F.count("*").alias("n_candidates"))
    nq = bf3.agg(F.countDistinct("query_id").alias("_q"))
    return _sweep_assemble(counts, hits, nq)


def _sweep_assemble(
    counts: DataFrame, hits: DataFrame, nq: DataFrame
) -> DataFrame:
    """The (nprobe, n_candidates, n_hits, recall_at_3) result assembly
    shared by the nprobe sweep family (sim_nprobe_sweep, _disk and
    _pq_disk) — ``counts`` and ``hits`` are per-width
    aggregates keyed by ``nprobe`` (round-13: ONE aggregation each over
    the width-tagged candidate union, replacing the old
    one-row-per-width crossJoin stitch — 8 single-row aggregations +
    4 crossJoins collapsed into 2 grouped aggregations + 1 join). The
    recall denominator and rounding grid live HERE once: the two
    reports are documented as read side by side, so their column
    contract must not be able to drift apart. The spine is
    ``_NPROBE_AXIS`` itself, as in the oracles: a width with no
    candidates keeps its row, with n_candidates 0."""
    axis = counts.sparkSession.createDataFrame(
        [(x,) for x in _NPROBE_AXIS], "nprobe int"
    )
    nh = F.coalesce(F.col("_nh"), F.lit(0))
    return (
        axis.join(F.broadcast(counts), "nprobe", "left")
        .join(F.broadcast(hits), "nprobe", "left")
        .crossJoin(F.broadcast(nq))
        .select(
            "nprobe",
            F.coalesce(F.col("n_candidates"), F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            nh.cast("bigint").alias("n_hits"),
            stable_round(
                nh * F.lit(1.0) / (F.col("_q") * 3), 6
            ).alias("recall_at_3"),
        )
    )


@query(
    "sim_nprobe_sweep_disk",
    oracle=_NPROBE_SWEEP_ORACLE,
    doc="The nprobe tuning curve against the PERSISTED index — the "
    "report a 100 TB operator actually reads before setting the knob: "
    "sim_nprobe_sweep measures the in-session assignment, this one "
    "drives the SAME recall@3 / candidate-cost curve through the "
    "on-disk layout (sources/ivf_index.py), so n_candidates at each "
    "width counts rows of the list partitions a search at that width "
    "actually opens (one pruned cent_id IN (...) scan per width — "
    "plan-asserted per width in tests/test_ivf_index.py). The index "
    "is the build-once fingerprinted artifact sim_ivf_disk_topk "
    "amortizes; the ground truth stays the registered brute-force "
    "oracle. Because the disk layout stores the identical assignment "
    "(shared rank_centroids definition), the curve must equal the "
    "in-session sweep's row for row — they share one oracle",
    tags=("similarity", "eval", "ext"),
)
def sim_nprobe_sweep_disk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from ..registry import track_persist
    from ..sources.ivf_index import (
        build_ivf_index,
        collect_probe_rows,
        probe_candidates,
    )

    path = _ivf_disk_index_path(sf_dir)
    if not os.path.exists(os.path.join(path, "vectors", "_SUCCESS")):
        emb = load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
        build_ivf_index(emb, path)
    queries = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("v"),
        )
    )
    qe = queries.select(
        "query_id", F.col("v").alias("av")
    ).withColumn(
        "an",
        F.expr(
            "sqrt(aggregate(transform(av, x -> x * x), cast(0.0 as double),"
            " (acc, v) -> acc + v))"
        ),
    )
    bf3 = track_persist(
        sim_topk_bruteforce(spark, sf_dir)
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id")
    )
    nq = bf3.agg(F.countDistinct("query_id").alias("_q"))
    # rank the query batch against the stored centroids ONCE at the
    # widest axis point; each width slices rn <= np (the width-8
    # ranking contains every narrower width)
    ranked_rows = collect_probe_rows(spark, path, queries, max(_NPROBE_AXIS))
    # Round-13 (VERDICT r12 ask #3): the per-width pruned scans STAY —
    # n_candidates at each width must count rows a search at that width
    # actually opens (plan-asserted in tests/test_ivf_index.py) — but
    # each scan is now TAGGED with its width and unioned into one
    # candidate stream, so the whole sweep runs ONE grouped count, ONE
    # (nprobe, query_id) top-k window and ONE grouped hits join instead
    # of 4x(count + window + hits) single-row stages, exactly the
    # in-session sweep's one-pass shape. The clean persist A/B VERDICT
    # r12 asked for (same host, min-of-3): ONE persist of the tagged
    # union 3.15 s vs 4.99 s unpersisted (counts + scoring both consume
    # it, and without the cache every pruned scan runs twice) vs 4.63 s
    # for the old 4-persist per-width form — so the union persist
    # stays. Its footprint equals what the four per-width persists
    # held before (the same candidate rows, now in one frame).
    per_width = []
    for np_ in _NPROBE_AXIS:
        width_rows = [r for r in ranked_rows if int(r["rn"]) <= np_]
        per_width.append(
            probe_candidates(
                spark, path, queries, np_, "vectors", probe_rows=width_rows
            ).select(
                F.lit(np_).cast("int").alias("nprobe"),
                "query_id",
                F.col("vec_id").alias("neighbor_id"),
                F.col("v").alias("bv"),
            )
        )
    pern = track_persist(reduce(DataFrame.unionAll, per_width))
    counts = pern.groupBy("nprobe").agg(F.count("*").alias("n_candidates"))
    scored = (
        pern.withColumn(
            "bn",
            F.expr(
                "sqrt(aggregate(transform(bv, x -> x * x),"
                " cast(0.0 as double), (acc, v) -> acc + v))"
            ),
        )
        .join(F.broadcast(qe), "query_id")
        .withColumn(
            "cs",
            F.try_divide(F.expr(_DOT_AB_SPARK), F.col("an") * F.col("bn")),
        )
    )
    wq = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cs"), "neighbor_id"
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
    "text_langid_confusion",
    oracle=f"""
WITH pred AS ({_LANGID_ORACLE})
SELECT lang AS true_lang, pred_lang, count(*) AS n,
       floor((count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY lang)) * 1e6 + 0.5)
         / 1e6 AS row_frac
FROM pred GROUP BY lang, pred_lang
""",
    doc="Language-ID confusion matrix: the classifier-quality audit "
    "for text_langid — per (true, predicted) language pair, count and "
    "row-normalized fraction (the per-class recall diagonal). One "
    "aggregation over the langid scan plus a partitioned window for "
    "the row normalization; composes the registered langid oracle so "
    "the audit and the classifier can never drift apart",
    tags=("text", "eval", "ext"),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_langid(spark, sf_dir)
    counts = pred.groupBy(
        F.col("lang").alias("true_lang"), "pred_lang"
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "pred_lang",
        "n",
        stable_round(F.col("n") / F.sum("n").over(w), 6).alias("row_frac"),
    )


# Adaptive bound for the registered dedup_semantic_keep entry: the
# exact all-pairs stage runs on a deterministic 1-in-md vec_id stratum
# with md = max(1, ceil(n / TARGET)), so its pair work is O(TARGET^2)
# no matter how big the corpus gets (the round-6 scale probe measured
# the unbounded entry at 11.8x wall on 10x rows — the documented
# quadratic). At the checked sf0.01 scale n < TARGET, so md = 1 and
# the bounded entry is bit-identical to the historical full-exact one.
# Integer arithmetic, computed identically on both engines.
_SEMKEEP_TARGET = 1000

_SEMKEEP_MD_SQL = (
    f"greatest(1, ((SELECT count(*) FROM e0) + {_SEMKEEP_TARGET - 1}) "
    f"// {_SEMKEEP_TARGET})"
)

_SEMANTIC_KEEP_ORACLE = f"""
WITH RECURSIVE
e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
params AS (SELECT {_SEMKEEP_MD_SQL} AS md),
e AS (SELECT vec_id, v FROM e0 WHERE vec_id % (SELECT md FROM params) = 0),
pr AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.v AS av, b.v AS bv
  FROM e a JOIN e b ON a.vec_id < b.vec_id
),
p AS (
  SELECT vec_a, vec_b FROM pr
  WHERE {_COS_EXPR_DUCK} > {_COS_NEAR_DUP_THRESHOLD}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM p
  UNION ALL SELECT vec_b, vec_a FROM p
),
cc(vec_id, lbl) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT g.dst, c.lbl FROM cc c JOIN edges g ON g.src = c.vec_id
),
lbl AS (SELECT vec_id, min(lbl) AS cluster_id FROM cc GROUP BY vec_id)
SELECT e.vec_id, l.cluster_id
FROM e JOIN lbl l ON l.vec_id = e.vec_id
WHERE l.cluster_id = e.vec_id
"""


@query(
    "dedup_semantic_keep",
    oracle=_SEMANTIC_KEEP_ORACLE,
    doc="SemDeDup proper — the embedding-side analog of "
    "dedup_keep_canonical: cosine near-dup pairs -> star connected "
    "components -> keep only each semantic cluster's canonical (min "
    "vec_id) member. The survivors are what a semantic-dedup pass "
    "feeds to training. The registered entry is the BOUNDED exact "
    "baseline: the all-pairs stage runs on a deterministic 1-in-md "
    f"adaptive stratum (md = ceil(n / {_SEMKEEP_TARGET}), integer "
    "arithmetic identical on both engines — the same rule the "
    "sampled audits use), so pair work is O(target^2) regardless of "
    "corpus size instead of the O(n^2) the round-6 probe measured at "
    "11.8x wall on 10x rows; at the checked sf0.01 scale md = 1 and "
    "the result is the historical full-exact one. Full-corpus exact "
    "mode stays available as the explicitly-invoked ground-truth "
    "audit (bound_target=None — how dedup_keep_lsh_recall calls it); "
    "the PRODUCTION scale path for the full corpus is "
    "dedup_semantic_keep_lsh (linear LSH candidates, identical "
    "downstream clustering)",
    tags=("dedup", "similarity", "ext", "pipeline"),
)
def dedup_semantic_keep(
    spark: SparkSession,
    sf_dir: str,
    stratum_mod: int | None = None,
    bound_target: int | None = _SEMKEEP_TARGET,
) -> DataFrame:
    from math import lcm

    from ..operators.graph import connected_components_star

    emb = load(spark, sf_dir, "embeddings").select("vec_id")
    s = stratum_mod or 1
    if s > 1:
        emb = emb.filter(F.col("vec_id") % s == 0)
    if bound_target:
        # sizing count for the adaptive stratum: parquet footers when
        # the scan is unfiltered (exact, zero jobs), else the bounded
        # scalar action — the same class as dedup_embedding_cosine's
        n = None
        if s == 1:
            from ..plans.two_phase import parquet_rows

            n = parquet_rows(sf_dir, "embeddings")
        if n is None:
            n = emb.count()
        md = max(1, -(-n // bound_target))
    else:
        md = 1
    if md > 1:
        emb = emb.filter(F.col("vec_id") % md == 0)
    # conjunction of the two modulo filters == one lcm filter; the
    # pair stage takes a single stratum knob
    eff = lcm(s, md)
    pairs = dedup_embedding_cosine(
        spark, sf_dir, stratum_mod=(eff if eff > 1 else None)
    ).select("vec_a", "vec_b")
    out = connected_components_star(emb, pairs, edges_distinct=True)
    return (
        out.filter(F.col("component") == F.col("vec_id"))
        .select("vec_id", F.col("component").alias("cluster_id"))
    )


_SKL_BANDS = 4         # LSH bands
_SKL_TARGET_BUCKET = 256  # target vectors per bucket -> bits scale with n

_SEMANTIC_KEEP_LSH_ORACLE = f"""
WITH RECURSIVE
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
params AS (
  SELECT greatest(4, least(12,
    CASE WHEN m <= 1 THEN 1
         ELSE length(bin(CAST(m - 1 AS BIGINT))) END)) AS bits
  FROM (SELECT ((SELECT count(*) FROM e) + {_SKL_TARGET_BUCKET - 1})
               // {_SKL_TARGET_BUCKET} AS m)
),
proj AS (
  SELECT vec_id, j,
         list_sum(list_transform(range(1, 65), i -> v[i] * {_HYPERPLANE_DUCK})) AS dot
  FROM e CROSS JOIN (
    SELECT unnest(range(0, (SELECT {_SKL_BANDS} * bits FROM params))) AS j)
),
sig AS (
  SELECT vec_id, j // (SELECT bits FROM params) AS band,
         CAST(sum(CASE WHEN dot > 0
                       THEN CAST(power(2, j % (SELECT bits FROM params)) AS BIGINT)
                       ELSE 0 END) AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id, j // (SELECT bits FROM params)
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM sig a JOIN sig b
    ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
),
pr AS (
  SELECT c.vec_a, c.vec_b, ae.v AS av, be.v AS bv
  FROM cand c JOIN e ae ON ae.vec_id = c.vec_a JOIN e be ON be.vec_id = c.vec_b
),
p AS (
  SELECT vec_a, vec_b FROM pr WHERE {_COS_EXPR_DUCK} > {_COS_NEAR_DUP_THRESHOLD}
),
edges AS (
  SELECT vec_a AS src, vec_b AS dst FROM p
  UNION ALL SELECT vec_b, vec_a FROM p
),
cc(vec_id, lbl) AS (
  SELECT vec_id, vec_id FROM e
  UNION
  SELECT g.dst, c.lbl FROM cc c JOIN edges g ON g.src = c.vec_id
),
lbl AS (SELECT vec_id, min(lbl) AS cluster_id FROM cc GROUP BY vec_id)
SELECT e.vec_id, l.cluster_id
FROM e JOIN lbl l ON l.vec_id = e.vec_id
WHERE l.cluster_id = e.vec_id
"""


@query(
    "dedup_semantic_keep_lsh",
    oracle=_SEMANTIC_KEEP_LSH_ORACLE,
    doc="SemDeDup at the 100 TB shape — the swap the dedup_semantic_keep "
    "docstring promises, made real: candidate pairs come from "
    f"{_SKL_BANDS} LSH bands of ADAPTIVE hyperplane sign bits — bits "
    f"= ceil(log2(n / {_SKL_TARGET_BUCKET})) clamped [4, 12], computed "
    "with integer bit-length arithmetic IDENTICALLY on both engines, "
    "so bucket count scales with n and expected bucket occupancy "
    "stays ~constant: candidate volume grows LINEARLY in n (a fixed "
    "bucket count would make within-bucket pairs quadratic — the "
    "round-5 scale probe caught exactly that at 13x wall on 10x "
    "rows). Vectors sharing ANY band bucket are candidates; "
    "candidates alone are exact-cosine verified "
    "(JVM-side sequential fold, identical to the oracle's list_sum "
    "order), then star CC + canonical-per-cluster survivors. Cost is "
    "O(sum of bucket^2) per band instead of O(n^2): the bucket join, "
    "verify join and CC all hash-partition on id keys. Recall vs the "
    "exact baseline is an audit query away (same pattern as "
    "sim_recall_eval)",
    tags=("dedup", "similarity", "ext", "pipeline"),
)
def dedup_semantic_keep_lsh(
    spark: SparkSession, sf_dir: str, stratum_mod: int | None = None
) -> DataFrame:
    from ..operators.graph import connected_components_star

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    if stratum_mod is not None:
        emb = emb.filter(F.col("vec_id") % stratum_mod == 0)
    # adaptive bits, integer-exact mirror of the oracle's params CTE
    # (on the restricted corpus when a stratum is set, so bucket
    # occupancy matches what the audit's oracle computes); unfiltered
    # scans take the exact parquet-footer count — zero jobs
    n = None
    if stratum_mod is None:
        from ..plans.two_phase import parquet_rows

        n = parquet_rows(sf_dir, "embeddings")
    if n is None:
        n = emb.count()
    m = (n + _SKL_TARGET_BUCKET - 1) // _SKL_TARGET_BUCKET
    bits = max(4, min(12, (m - 1).bit_length() if m > 1 else 1))
    # signatures via the shared BLAS kernel (functions/lsh.py): one
    # matmul per Arrow batch with borderline dots re-folded, so signs
    # are bit-identical to the oracle's sequential list_sum fold; the
    # old crossJoin-lambda form was 2/3 of the query's wall at sf1
    sigs = sign_signatures(emb, _SKL_BANDS * bits)
    sig = track_persist(
        sigs.select(
            "vec_id",
            F.posexplode(F.expr(band_pack_expr(_SKL_BANDS, bits))).alias(
                "band", "bucket"
            ),
        )
    )
    # Verify WITHIN each (band, bucket) group instead of materializing
    # the candidate-pair frame: the old shape joined the vector arrays
    # onto every candidate row (17M pairs x two 512-byte arrays ~ 9 GB
    # of shuffle at the 10x probe, then 17M JVM zip_with folds); here
    # the shuffle is one vector copy per (vector, band) — n * bands
    # rows — and each group computes its pairwise cosines with the
    # EXACT-fold Gram kernel (functions/lsh.py: elementwise
    # accumulation in list_sum order, vectorized across pairs), so
    # every emitted cosine is bit-identical to the oracle's fold.
    # Cross-band duplicates dedupe AFTER thresholding: distinct runs
    # on surviving edges (~thousands), not 17M candidates.
    import pandas as pd

    from ..deploy import ensure_worker_imports
    from ..functions.lsh import fold_gram, fold_norms

    ensure_worker_imports(emb)
    thr = _COS_NEAR_DUP_THRESHOLD
    empty_pairs = pd.DataFrame(
        {
            "vec_a": pd.Series([], dtype="int64"),
            "vec_b": pd.Series([], dtype="int64"),
        }
    )

    def bucket_verify(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return empty_pairs
        ids = pdf["vec_id"].to_numpy()
        V = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = fold_norms(V)
        G = fold_gram(V)
        with np.errstate(divide="ignore", invalid="ignore"):
            CS = G / (nrm[:, None] * nrm[None, :])
        ia, ib = np.nonzero(np.triu(CS > thr, k=1))
        # orient (min, max) by id — dot/norm folds are symmetric, so
        # orientation cannot change the value
        return pd.DataFrame(
            {
                "vec_a": np.minimum(ids[ia], ids[ib]),
                "vec_b": np.maximum(ids[ia], ids[ib]),
            }
        )

    pairs = (
        sig.join(emb, "vec_id")
        .groupBy("band", "bucket")
        .applyInPandas(bucket_verify, "vec_a long, vec_b long")
        .distinct()
    )
    out = connected_components_star(emb.select("vec_id"), pairs, edges_distinct=True)
    return (
        out.filter(F.col("component") == F.col("vec_id"))
        .select("vec_id", F.col("component").alias("cluster_id"))
    )


# Deterministic audit stratum for dedup_keep_lsh_recall: both SemDeDup
# pipelines run on vec_id % K == 0 only, so the exact n^2 baseline
# inside the audit costs O((n/K)^2) instead of O(n^2) — at 100 TB the
# keep-precision estimate comes from a fixed-rate hash sample, the
# standard audit posture (same reason sim_recall_eval samples queries).
_AUDIT_STRATUM_K = 4


def _keep_lsh_recall_oracle() -> str:
    """Composed from the two registered SemDeDup oracles (exact-pair
    baseline vs LSH-candidate scale path) — shared definitions, not
    re-derivations — with the audit's deterministic ``vec_id % K``
    stratum injected into each oracle's single ``FROM embeddings``
    site (asserted, so an oracle refactor cannot silently desync)."""
    stratum = f"FROM embeddings WHERE vec_id % {_AUDIT_STRATUM_K} = 0"
    exact = _SEMANTIC_KEEP_ORACLE
    lsh = _SEMANTIC_KEEP_LSH_ORACLE
    assert exact.count("FROM embeddings") == 1, "exact oracle shape changed"
    assert lsh.count("FROM embeddings") == 1, "lsh oracle shape changed"
    exact = exact.replace("FROM embeddings", stratum)
    lsh = lsh.replace("FROM embeddings", stratum)
    # the audit's exact side is the GROUND-TRUTH full-exact pass over
    # the audit stratum (Python side: bound_target=None), so neutralize
    # the registered entry's adaptive md bound in the composed oracle
    assert exact.count(_SEMKEEP_MD_SQL) == 1, "exact md fragment changed"
    exact = exact.replace(_SEMKEEP_MD_SQL, "1")
    return f"""
WITH ex AS ({exact}),
ls AS ({lsh}),
agree AS (SELECT count(*) AS n FROM ex JOIN ls ON ls.vec_id = ex.vec_id)
SELECT CAST((SELECT count(*) FROM ex) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM ls) AS BIGINT) AS n_lsh,
       CAST(a.n AS BIGINT) AS n_common,
       floor((a.n * 1.0 / (SELECT count(*) FROM ls)) * 1e6 + 0.5) / 1e6
         AS keep_precision
FROM agree a
"""


@query(
    "dedup_keep_lsh_recall",
    oracle=_keep_lsh_recall_oracle(),
    doc="SemDeDup quality audit — survivor-set agreement of the "
    "LSH-candidate scale path (dedup_semantic_keep_lsh) against the "
    "exact all-pairs baseline (dedup_semantic_keep): the metric that "
    "justifies shipping the LSH variant at scale, exactly as "
    "sim_recall_eval justifies IVF. LSH edges are a SUBSET of exact "
    "edges, so LSH clusters refine exact clusters and every exact "
    "survivor survives LSH too (recall is 1.0 by construction); the "
    "informative number is keep_precision = |exact ∩ lsh| / |lsh| — "
    "the fraction of LSH-kept docs the exact pass would also keep "
    "(1 - over-keep rate from missed merges). Both sides are the "
    "registered queries' pipelines restricted to the deterministic "
    f"vec_id % {_AUDIT_STRATUM_K} == 0 stratum, so the exact baseline "
    "inside the audit is O((n/K)^2) — a corpus-wide exact pass would "
    "defeat the point of auditing the scale path. The oracle composes "
    "the two proven oracles with the same stratum injected",
    tags=("dedup", "similarity", "eval", "ext"),
)
def dedup_keep_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    K = _AUDIT_STRATUM_K
    # ONE lazy aggregation instead of three scalar driver actions
    # (round-13, guide §5): survivor vec_ids are unique within each
    # frame, so a full-outer join carries exactly |exact ∪ lsh| rows
    # and the three counts (exact side, lsh side, intersection) ride a
    # single aggregate — each SemDeDup pipeline is consumed once, no
    # persists, and the whole audit materializes under the caller's
    # action. Same three integers, same output expression.
    ex = (
        dedup_semantic_keep(spark, sf_dir, stratum_mod=K, bound_target=None)
        .select("vec_id")
        .withColumn("_e", F.lit(1))
    )
    ls = (
        dedup_semantic_keep_lsh(spark, sf_dir, stratum_mod=K)
        .select("vec_id")
        .withColumn("_l", F.lit(1))
    )
    agg = ex.join(ls, "vec_id", "full_outer").agg(
        F.count("_e").cast("long").alias("n_exact"),
        F.count("_l").cast("long").alias("n_lsh"),
        F.count(F.when(F.col("_e").isNotNull() & F.col("_l").isNotNull(), 1))
        .cast("long")
        .alias("n_common"),
    )
    return agg.select(
        "n_exact",
        "n_lsh",
        "n_common",
        stable_round(F.col("n_common") / F.col("n_lsh"), 6).alias(
            "keep_precision"
        ),
    )


_PR_ITERS = 5
_PR_DAMP = 0.85  # exactly representable? 0.85 is not dyadic; both engines parse the same double from '0.85' — identical constant


def _pagerank_oracle() -> str:
    """Fixed-iteration PageRank CTE chain (same construction as the
    IVF k-means oracle: one CTE per iteration, every score rounded to
    a 1e-9 grid on BOTH engines so summation order cannot split the
    hash)."""
    parts = [
        f"sh AS ({_SQL_SHINGLES}),",
        "sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),",
        """p0 AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
e1 AS (
  SELECT p.a, p.b FROM p0 p
  JOIN sizes sa ON sa.doc_id = p.a
  JOIN sizes sb ON sb.doc_id = p.b
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
),
ed AS (SELECT a AS u, b AS v FROM e1 UNION ALL SELECT b, a FROM e1),
deg AS (SELECT u, count(*) AS d FROM ed GROUP BY u),
nodes AS (SELECT doc_id FROM documents),
nn AS (SELECT count(*) AS n FROM nodes),
r0 AS (SELECT doc_id, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),""",
    ]
    for it in range(1, _PR_ITERS + 1):
        prev = f"r{it - 1}"
        parts.append(
            f"""c{it} AS (
  SELECT ed.v AS doc_id, sum({prev}.r / deg.d) AS cin
  FROM ed JOIN {prev} ON {prev}.doc_id = ed.u JOIN deg ON deg.u = ed.u
  GROUP BY ed.v
),
r{it} AS (
  SELECT n.doc_id,
         floor(((1 - {_PR_DAMP}) / nn.n
                + {_PR_DAMP} * coalesce(c{it}.cin, 0)) * 1e9 + 0.5) / 1e9 AS r
  FROM nodes n CROSS JOIN nn LEFT JOIN c{it} ON c{it}.doc_id = n.doc_id
),"""
        )
    body = "\n".join(parts).rstrip(",\n") + ","
    return f"""
WITH {body}
final AS (SELECT doc_id, r FROM r{_PR_ITERS})
SELECT doc_id, floor(r * 1e6 + 0.5) / 1e6 AS pagerank
FROM final
"""


@query(
    "graph_pagerank",
    oracle=_pagerank_oracle(),
    doc=f"PageRank on the near-dup similarity graph, {_PR_ITERS} fixed "
    f"iterations, damping {_PR_DAMP}: per iteration one equi-join of "
    "the rank vector against the (materialized, degree-annotated) "
    "edge table + one groupBy-sum — both hash-partitioned on node "
    "keys, localCheckpoint per iteration for constant-depth lineage, "
    "exactly the CC round shape. Unlinked nodes hold the teleport "
    "term. Each iteration's scores are rounded to a 1e-9 grid on BOTH "
    "engines (the IVF k-means parity trick) so partition summation "
    "order cannot split the hash; the dangling-mass term is zero here "
    "because the symmetrized similarity graph has no zero-out-degree "
    "node with rank inflow. The canonical iterative-graph workload "
    "beyond CC: same keyed-shuffle posture, O(iters) rounds",
    tags=("graph", "ext"),
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..plans.two_phase import parquet_rows

    docs = load(spark, sf_dir, "documents").select("doc_id")
    # degree-annotated symmetric edge table published once as a
    # bucketed table on u: each iteration's rank join reads matching
    # buckets directly — only the rank vector moves per round
    edd = _sym_edges_bucketed(spark, sf_dir)
    # |documents| from parquet footers (exact row-count metadata over
    # the unfiltered scan) — zero Spark jobs instead of a per-query
    # count() action; the Spark count stays as the fallback
    n = parquet_rows(sf_dir, "documents")
    if n is None:
        n = docs.count()
    # eager=False checkpoints (round-12, guide §1.2/§2.4): the round
    # count is FIXED, so no per-round driver action is needed at all —
    # lineage is still cut per round (constant-depth plans), but the
    # whole 5-round cascade materializes under the ONE final action
    # instead of 6 sequential driver round-trips. Same trick the CC
    # operator documents; identical results (checkpointing is a
    # recompute hint, and each round's checkpointed partitions are
    # still stored, so the next round's double read hits storage).
    r = docs.select("doc_id", (F.lit(1.0) / n).alias("r")).localCheckpoint(
        eager=False
    )
    for _ in range(_PR_ITERS):
        cin = (
            edd.join(r.withColumnRenamed("doc_id", "u"), "u")
            .groupBy(F.col("v").alias("doc_id"))
            .agg(F.sum(F.col("r") / F.col("d")).alias("cin"))
        )
        r = (
            docs.join(cin, "doc_id", "left")
            .select(
                "doc_id",
                stable_round(
                    (1 - _PR_DAMP) / n
                    + _PR_DAMP * F.coalesce(F.col("cin"), F.lit(0.0)),
                    9,
                ).alias("r"),
            )
            .localCheckpoint(eager=False)
        )
    return r.select("doc_id", stable_round("r", 6).alias("pagerank"))


def _keep_canonical_lsh_oracle() -> str:
    """Composed: minhash-LSH candidate pairs (the registered oracle's
    definition) thresholded at true Jaccard >= 0.2, then the same
    recursive CC + canonical-survivor tail as dedup_keep_canonical."""
    return f"""
WITH RECURSIVE
mh_pairs AS ({_MINHASH_ORACLE.strip()}),
jac AS (SELECT doc_a, doc_b FROM mh_pairs WHERE jaccard >= 0.2),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL SELECT doc_b, doc_a FROM jac
),
cc(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.doc_id
),
lbl AS (SELECT doc_id, min(lbl) AS cluster_id FROM cc GROUP BY doc_id)
SELECT d.doc_id, d.lang, d.n_chars
FROM documents d JOIN lbl l ON l.doc_id = d.doc_id
WHERE l.cluster_id = d.doc_id
"""


@query(
    "dedup_keep_canonical_lsh",
    oracle=_keep_canonical_lsh_oracle(),
    doc="The complete text dedup pass at the 100 TB CANDIDATE shape — "
    "dedup_keep_canonical with the pair stage swapped from the exact "
    "shingle self-join to minhash-LSH band candidates (true-Jaccard "
    "verified, so every surviving edge is exact; only RECALL can "
    "differ, and LSH clusters refine exact clusters, so exact "
    "survivors always survive here too). Mirrors "
    "dedup_semantic_keep_lsh on the embedding side: band join -> "
    "verify candidates only -> star CC -> canonical survivors, never "
    "an all-pairs stage",
    tags=("dedup", "text", "ext", "pipeline"),
)
def dedup_keep_canonical_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components_star

    docs = load(spark, sf_dir, "documents")
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.2)
        .select("doc_a", "doc_b")
    )
    out = connected_components_star(
        docs.select("doc_id"), pairs, edges_distinct=True
    )
    keep = out.filter(F.col("component") == F.col("doc_id")).select("doc_id")
    return docs.join(keep, "doc_id").select("doc_id", "lang", "n_chars")


_CLUSTER_STATS_ORACLE = f"""
SELECT cluster_size,
       CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM ({_CC_ORACLE}) GROUP BY cluster_id
)
GROUP BY cluster_size
"""


@query(
    "dedup_cluster_stats",
    oracle=_CLUSTER_STATS_ORACLE,
    doc="Duplicate-cluster SIZE HISTOGRAM — the report every dedup run "
    "ships: how many components of each size the near-dup graph has "
    "(size 1 = unique docs; the tail is the boilerplate/mirror mass). "
    "Composes the shared materialized edge table + star CC "
    "(_near_dup_edges -> connected_components_star) with two keyed "
    "aggregations (component -> size, size -> count); output is "
    "bounded by the largest component size, so it stays tiny at any "
    "corpus scale. The n_docs column makes the histogram "
    "self-auditing: sum(n_docs) == corpus size",
    tags=("dedup", "diagnostics", "ext"),
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.graph import connected_components_star

    docs = load(spark, sf_dir, "documents").select("doc_id")
    pairs = _near_dup_edges(spark, sf_dir)
    cc = connected_components_star(
        docs, pairs, edges_distinct=True, edges_materialized=True
    )
    sizes = cc.groupBy("component").agg(
        F.count("*").cast("bigint").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.col("cluster_size") * F.count("*")).cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Edit-distance near-dup (round 6): LSH/shingle candidates -> exact
# Levenshtein verify
# ---------------------------------------------------------------------------

_ED_PREFIX = 200  # chars of lowercased text the DP runs over
_ED_SIM = 0.8  # edit-similarity keep threshold

_EDIT_DISTANCE_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
pairs AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
cand AS (
  SELECT p.doc_a, p.doc_b
  FROM pairs p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
),
pfx AS (
  -- byte-based DuckDB levenshtein == char-based Spark levenshtein only
  -- on single-byte text, so both engines strip non-ASCII identically
  SELECT doc_id,
         substr(regexp_replace(lower(text), '[^\\x20-\\x7e]', '', 'g'),
                1, {_ED_PREFIX}) AS p,
         len(substr(regexp_replace(lower(text), '[^\\x20-\\x7e]', '', 'g'),
                    1, {_ED_PREFIX})) AS plen
  FROM documents
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         CAST(levenshtein(a.p, b.p) AS BIGINT) AS lev,
         greatest(a.plen, b.plen) AS maxlen
  FROM cand c JOIN pfx a ON a.doc_id = c.doc_a
              JOIN pfx b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, lev,
       floor((1.0 - lev * 1.0 / greatest(maxlen, 1)) * 1e6 + 0.5) / 1e6
         AS edit_sim,
       (1.0 - lev * 1.0 / greatest(maxlen, 1)) >= {_ED_SIM} AS is_editdup
FROM scored
"""


@query(
    "dedup_edit_distance",
    oracle=_EDIT_DISTANCE_ORACLE,
    doc="Edit-distance near-dup: the shingle-equi-join candidate set "
    "(the same linear-in-n generator dedup_ngram_jaccard proves) "
    "verified by EXACT Levenshtein on 200-char lowercased ASCII "
    "prefixes — the fuzzy-dedup family member Jaccard misses "
    "(reorderings score high on Jaccard but low on edit similarity, "
    "small in-place edits the reverse). Scale shape: the DP cost is "
    "capped at PREFIX^2 per candidate pair and candidates come only "
    "from shared shingles, so total work is linear in corpus size; "
    "the verify is JVM-side F.levenshtein, no UDF. Both engines strip "
    "non-ASCII first (DuckDB's levenshtein is byte-based, Spark's "
    "char-based; identical on single-byte text)",
    tags=("dedup", "ext"),
)
def dedup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _near_dup_edges(spark, sf_dir)
    ascii_lower = F.regexp_replace(F.lower(F.col("text")), r"[^\x20-\x7e]", "")
    pfx = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(ascii_lower, 1, _ED_PREFIX).alias("p"),
    ).withColumn("plen", F.length("p"))
    a = pfx.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"),
                   F.col("plen").alias("la"))
    b = pfx.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"),
                   F.col("plen").alias("lb"))
    lev = F.levenshtein("pa", "pb").cast("bigint")
    maxlen = F.greatest(F.greatest("la", "lb"), F.lit(1))
    sim = F.lit(1.0) - lev / maxlen
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            lev.alias("lev"),
            stable_round(sim, 6).alias("edit_sim"),
            (sim >= _ED_SIM).alias("is_editdup"),
        )
    )


# ---------------------------------------------------------------------------
# Distributed k-means (round 6): 2 unrolled Lloyd iterations, exact
# integer-grid arithmetic
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_GRID = 1_000_000  # ppm quantization grid

_KMEANS_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(floor(CAST(x AS DOUBLE) * {_KM_GRID} + 0.5)
                                  AS BIGINT)) AS qv
  FROM embeddings
),
seeds AS (
  SELECT CAST(row_number() OVER (ORDER BY h, vec_id) - 1 AS BIGINT) AS k, qv
  FROM (
    SELECT vec_id, qv,
           CAST(('0x' || substr(md5('km#' || CAST(vec_id AS VARCHAR)), 1, 12))
                AS BIGINT) AS h
    FROM q
  ) ORDER BY h, vec_id LIMIT {_KM_K}
),
a1 AS (
  SELECT vec_id, k, qv FROM (
    SELECT q.vec_id, s.k, q.qv,
           CAST(list_sum(list_transform(range(1, 65),
                i -> (q.qv[i] - s.qv[i]) * (q.qv[i] - s.qv[i])))
                AS BIGINT) AS dist
    FROM q CROSS JOIN seeds s
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) = 1
),
sums AS (
  SELECT k, pos, CAST(sum(val) AS BIGINT) AS s, count(*) AS n
  FROM (SELECT vec_id, k, unnest(qv) AS val,
               generate_subscripts(qv, 1) AS pos FROM a1)
  GROUP BY k, pos
),
c2 AS (
  SELECT k, array_agg(CAST(floor(s * 1.0 / n + 0.5) AS BIGINT)
                      ORDER BY pos) AS cm
  FROM sums GROUP BY k
),
a2 AS (
  SELECT vec_id, k AS cluster, dist FROM (
    SELECT q.vec_id, c.k,
           CAST(list_sum(list_transform(range(1, 65),
                i -> (q.qv[i] - c.cm[i]) * (q.qv[i] - c.cm[i])))
                AS BIGINT) AS dist
    FROM q CROSS JOIN c2 c
  ) QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist, k) = 1
)
SELECT vec_id, cluster, dist AS dist_sq_grid FROM a2
"""


@query(
    "emb_kmeans_assign",
    oracle=_KMEANS_ORACLE,
    doc="Distributed Lloyd k-means over the embedding table, 2 "
    "unrolled iterations, k=8: md5-deterministic seed pick, "
    "assignment = argmin squared L2 against the (tiny, broadcast) "
    "centroid table, centroid update = one (cluster, dim)-keyed "
    "integer-sum aggregation (512 keys, map-side combinable). The "
    "iterative float-chain divergence problem is DESIGNED OUT: "
    "coordinates quantize once to an exact ppm integer grid, every "
    "distance/sum is exact BIGINT arithmetic (max |coord| ~5e5, 64 "
    "dims -> dist < 2^47), and the only division — the centroid "
    "mean — is one IEEE double op rounded straight back to the grid, "
    "identical on both engines. Scale: per iteration the data moves "
    "once (n x k broadcast compare + 64-per-row partial agg); "
    "centroids never leave the executors via the driver",
    tags=("similarity", "embedding", "ext"),
)
def emb_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    grid = F.lit(_KM_GRID)
    q = track_persist(
        load(spark, sf_dir, "embeddings").select(
            "vec_id",
            F.transform(
                F.col("embedding").cast("array<double>"),
                lambda x: F.floor(x * grid + F.lit(0.5)).cast("bigint"),
            ).alias("qv"),
        )
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("km#"), F.col("vec_id").cast("string"))), 1, 12
        ),
        16,
        10,
    ).cast("bigint")
    # k seeds: global top-k by hash = TakeOrderedAndProject (k tiny);
    # the row_number over the k survivors is a deliberate
    # single-partition window, sized by the limit — partition on the
    # non-foldable all-zero column so the plan keeps a real partition
    # spec (no WindowExec hazard warning)
    from ..plans.two_phase import one_partition_col

    seeds = (
        q.withColumn("_h", h)
        .orderBy("_h", "vec_id")
        .limit(_KM_K)
        .withColumn("_sp", one_partition_col())
        .select(
            (
                F.row_number().over(
                    Window.partitionBy("_sp").orderBy("_h", "vec_id")
                )
                - 1
            )
            .cast("bigint")
            .alias("k"),
            F.col("qv").alias("cm"),
        )
    )

    def assign(centroids: DataFrame) -> DataFrame:
        dist = F.aggregate(
            F.zip_with("qv", "cm", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        )
        scored = q.crossJoin(F.broadcast(centroids)).select(
            "vec_id", "qv", F.struct(dist.alias("dist"), F.col("k")).alias("dk")
        )
        best = scored.groupBy("vec_id").agg(
            F.min("dk").alias("dk"), F.first("qv").alias("qv")
        )
        return best.select(
            "vec_id", "qv", F.col("dk.k").alias("k"), F.col("dk.dist").alias("dist")
        )

    a1 = assign(seeds)
    # centroid update: exact integer sums keyed by (cluster, dim)
    sums = (
        a1.select("k", F.posexplode("qv").alias("pos", "val"))
        .groupBy("k", "pos")
        .agg(F.sum("val").alias("s"), F.count("*").alias("n"))
    )
    c2 = sums.groupBy("k").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "s", "n"))),
            lambda e: F.floor(e["s"] / e["n"] + F.lit(0.5)).cast("bigint"),
        ).alias("cm")
    )
    return assign(c2).select(
        "vec_id",
        F.col("k").alias("cluster"),
        F.col("dist").alias("dist_sq_grid"),
    )


# ---------------------------------------------------------------------------
# ColBERT-style MaxSim (round 6): late-interaction similarity between
# vector groups
# ---------------------------------------------------------------------------

_MAXSIM_Q_STRATUM = 4  # stratum floor (1-in-K); grows with n, see below
_MAXSIM_TARGET_Q = 500  # target query-vector count -> stratum scales with n

_MAXSIM_GRID = 1024  # vector values on an exact 1/1024 integer grid

_MAXSIM_ORACLE = f"""
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {_MAXSIM_GRID} + 0.5) AS BIGINT)) AS q
  FROM embeddings
  WHERE len(embedding) = (SELECT max(len(embedding)) FROM embeddings)
),
params AS (
  -- ADAPTIVE stratum: 1-in-md with md = max(floor_K, ceil(n / target))
  -- so the q-vector count stays ~constant as the corpus grows and the
  -- q x d pair work is LINEAR in n, not quadratic (the scale probe
  -- caught the fixed-K version at ~100x work on 10x rows). Integer
  -- arithmetic, bit-identical on both engines.
  SELECT greatest({_MAXSIM_Q_STRATUM},
                  ((SELECT count(*) FROM embeddings) + {_MAXSIM_TARGET_Q - 1})
                  // {_MAXSIM_TARGET_Q}) AS md
),
n AS (
  SELECT vec_id, label, q,
         CAST(list_sum(list_transform(range(1, len(q) + 1),
                                      i -> q[i] * q[i])) AS BIGINT) AS n2
  FROM v
),
nz AS (SELECT * FROM n WHERE n2 > 0),
cos AS (
  -- q side restricted to the deterministic vec_id stratum: the mean-
  -- of-max over a 1-in-K query sample is the bounded-cost estimator
  -- (same pattern as dedup_keep_lsh_recall's sampled audit); the d
  -- side stays FULL so every max is exact. The dot is an EXACT BIGINT
  -- sum of grid products — any evaluation order agrees — and the only
  -- float ops (sqrt on exact ints, one divide, the 1e9 quantize) are
  -- elementwise IEEE, identical on both engines.
  SELECT a.label AS q_label, a.vec_id AS q_vec, b.label AS d_label,
         CAST(floor(
           CAST(list_sum(list_transform(range(1, len(a.q) + 1),
                                        i -> a.q[i] * b.q[i])) AS DOUBLE)
           / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
           * 1e9 + 0.5) AS BIGINT) AS cg
  FROM nz a JOIN nz b ON a.label <> b.label
  WHERE a.vec_id % (SELECT md FROM params) = 0
),
best AS (
  SELECT q_label, q_vec, d_label, max(cg) AS m
  FROM cos GROUP BY q_label, q_vec, d_label
)
SELECT q_label, d_label,
       floor(sum(m) * 1.0 / count(*) / 1e9 * 1e6 + 0.5) / 1e6 AS maxsim
FROM best GROUP BY q_label, d_label
"""


@query(
    "sim_maxsim_groups",
    oracle=_MAXSIM_ORACLE,
    doc="ColBERT-style late-interaction MaxSim between vector GROUPS "
    "(label = multi-vector document, vec_id = token vector): "
    "maxsim(Q, D) = mean over q in Q of max over d in D of "
    "cos(q, d) over a deterministic 1-in-K adaptive q stratum (d side "
    "FULL, so every max is exact; the stratum bounds cost exactly like "
    "the sampled keep-precision audit). Determinism: vectors live on "
    f"an exact 1/{_MAXSIM_GRID} integer grid, so the dot is an exact "
    "BIGINT sum — ANY evaluation order agrees, which is what lets the "
    "hot loop be one int64 numpy matmul (Q x D^T) per Arrow batch (the "
    "covariance-Gram pattern: dense linear algebra earns the Pandas "
    "boundary, and integer matmul costs nothing in determinism); "
    "cosines then quantize to a 1e-9 grid before the order-free "
    "max/mean. The bounded q stratum (~500 rows by the adaptive rule) "
    "ships to executors inside the closure — the documented bounded-"
    "collect class — and each batch pre-reduces to per-(q, d_label) "
    "partial maxima, so the shuffle carries O(q x labels) rows per "
    "batch, never the pair matrix. At 100 TB the candidate d-set per "
    "q comes from sim_lsh_bucketed and the same max/mean tail is "
    "unchanged. Zero-norm and non-modal-width vectors excluded on "
    "both engines",
    tags=("similarity", "embedding", "ext"),
)
def sim_maxsim_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    emb = load(spark, sf_dir, "embeddings")
    out_schema = "q_label int, d_label int, maxsim double"
    # ONE sizing action instead of two: the modal-width max and the
    # total count ride the same aggregate job (guide §5 — fold size
    # probes into actions that already run)
    g = emb.agg(
        F.max(F.size("embedding")).alias("_maxd"), F.count("*").alias("_n")
    ).collect()[0]
    maxd = g["_maxd"]
    if maxd is None:
        return spark.createDataFrame([], out_schema)
    n_total = int(g["_n"])
    md = max(
        _MAXSIM_Q_STRATUM,
        (n_total + _MAXSIM_TARGET_Q - 1) // _MAXSIM_TARGET_Q,
    )
    nz = (
        emb.filter(F.size("embedding") == maxd)
        .select(
            "vec_id",
            "label",
            F.expr(
                f"transform(embedding, x -> "
                f"CAST(floor(CAST(x AS DOUBLE) * {_MAXSIM_GRID} + 0.5) AS BIGINT))"
            ).alias("q"),
        )
        .withColumn("n2", F.expr("aggregate(q, 0L, (acc, x) -> acc + x * x)"))
        .filter(F.col("n2") > 0)
    )
    # bounded collect (~TARGET_Q rows by the adaptive stratum rule —
    # same class as the IVF/PQ samples and the PCA iterate): the query
    # side rides into the executors inside the mapInPandas closure
    qrows = nz.filter(F.col("vec_id") % md == 0).select(
        "label", "vec_id", "q", "n2"
    ).collect()
    if not qrows:
        return spark.createDataFrame([], out_schema)
    Q = np.array([list(r["q"]) for r in qrows], dtype=np.int64)
    q_label = np.array([r["label"] for r in qrows], dtype=np.int64)
    q_vec = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    qnorm = np.sqrt(np.array([r["n2"] for r in qrows], dtype=np.float64))

    def partials(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            D = np.array(pdf["q"].to_list(), dtype=np.int64)
            dnorm = np.sqrt(pdf["n2"].to_numpy(dtype="float64"))
            dlab = pdf["label"].to_numpy()
            # exact int64 dots; all float ops elementwise IEEE, same
            # bits as the oracle's scalar expressions on the same ints
            dots = (Q @ D.T).astype(np.float64)
            cg = np.floor(dots / np.outer(qnorm, dnorm) * 1e9 + 0.5).astype(
                np.int64
            )
            frames = []
            for lbl in np.unique(dlab):
                m = cg[:, dlab == lbl].max(axis=1)
                keep = q_label != lbl
                frames.append(
                    pd.DataFrame(
                        {
                            "q_label": q_label[keep].astype("int32"),
                            "q_vec": q_vec[keep],
                            "d_label": np.int32(lbl),
                            "m": m[keep],
                        }
                    )
                )
            yield pd.concat(frames)

    parts = nz.select("label", "q", "n2").mapInPandas(
        partials, schema="q_label int, q_vec long, d_label int, m long"
    )
    best = parts.groupBy("q_label", "q_vec", "d_label").agg(
        F.max("m").alias("m")
    )
    return best.groupBy("q_label", "d_label").agg(
        stable_round(F.sum("m") / F.count("*") / F.lit(1e9), 6).alias("maxsim")
    )


# ---------------------------------------------------------------------------
# kNN graph construction over LSH buckets
# ---------------------------------------------------------------------------

_KNN_K = 3
_KNN_TARGET_BUCKET = 8  # target vectors per bucket -> bits scale with n
_KNN_MIN_BITS = 8  # = sim_lsh_bucketed's width at the test SFs
_KNN_MAX_BITS = 20


def _knn_graph_oracle() -> str:
    """Same hyperplane family as the registered sim_lsh_bucketed, with
    ADAPTIVE sign bits (bits = ceil(log2(n / target)) clamped) so
    bucket occupancy — and therefore the equi-self-join's candidate
    count per vector — stays ~constant as the corpus grows: pair work
    is LINEAR in n, not n²/2^bits with fixed bits (the same quadratic
    the round-5 scale probe caught in the fixed-bit SemDeDup). At the
    test SFs the formula lands on {_KNN_MIN_BITS} bits, i.e. exactly
    sim_lsh_bucketed's buckets."""
    return f"""
WITH e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
params AS (
  SELECT greatest({_KNN_MIN_BITS}, least({_KNN_MAX_BITS},
    CASE WHEN m <= 1 THEN 1
         ELSE length(bin(CAST(m - 1 AS BIGINT))) END)) AS bits
  FROM (SELECT ((SELECT count(*) FROM e0) + {_KNN_TARGET_BUCKET - 1})
               // {_KNN_TARGET_BUCKET} AS m)
),
proj AS (
  SELECT vec_id, j,
         list_sum(list_transform(range(1, 65), i -> v[i] * {_HYPERPLANE_DUCK})) AS dot
  FROM e0 CROSS JOIN (
    SELECT unnest(range(0, (SELECT bits FROM params))) AS j)
),
b AS (
  SELECT vec_id,
         CAST(sum(CASE WHEN dot > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)
              AS BIGINT) AS bucket
  FROM proj GROUP BY vec_id
),
e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  WHERE list_sum(list_transform(range(1, 65), i -> embedding[i] * embedding[i])) > 0
),
p AS (
  SELECT x.vec_id AS vid, y.vec_id AS nid, ex.v AS av, ey.v AS bv
  FROM b x JOIN b y ON x.bucket = y.bucket AND x.vec_id <> y.vec_id
  JOIN e ex ON ex.vec_id = x.vec_id
  JOIN e ey ON ey.vec_id = y.vec_id
),
s AS (SELECT vid, nid, {_COS_EXPR_DUCK} AS cs FROM p)
SELECT vid AS vec_id, nid AS neighbor_id,
       floor((cs) * 1e4 + 0.5) / 1e4 AS cos_sim, CAST(rn AS INTEGER) AS rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY cs DESC, nid) AS rn
  FROM s
) WHERE rn <= {_KNN_K}
"""


@query(
    "sim_knn_graph_lsh",
    oracle=_knn_graph_oracle(),
    doc=f"kNN-graph construction (top-{_KNN_K} neighbors per vector) "
    "with candidates restricted to the vector's LSH bucket — the "
    "building block SemDeDup-style clustering and graph-ANN indexes "
    "(HNSW/NSG bottom layers) start from. Buckets use sim_lsh_bucketed's "
    "hyperplane family with ADAPTIVE sign bits (ceil(log2(n/8)) clamped "
    f"[{_KNN_MIN_BITS}, {_KNN_MAX_BITS}], integer-identical on both "
    "engines) so bucket occupancy stays ~constant and the equi-self-"
    "join's pair count is LINEAR in n — never n²/2^bits with fixed "
    "bits. Shape: bucket equi-self-join -> exact cosine on candidates "
    "only -> per-vector top-k window partitioned by the vector. "
    "Vectors alone in their bucket emit no edges (correct: no "
    "candidates); zero vectors are excluded on both engines",
    tags=("similarity", "graph", "ext"),
)
def sim_knn_graph_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # adaptive bits, integer-exact mirror of the oracle's params CTE —
    # one bounded scalar count sizes the bit width (same class as
    # dedup_semantic_keep_lsh's), then the shared BLAS signature kernel
    # (functions/lsh.py) computes all sign bits in one matmul pass with
    # borderline dots re-folded to match the oracle's sequential fold
    all_v = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # exact footer count over the unfiltered scan — zero Spark jobs
    from ..plans.two_phase import parquet_rows

    n = parquet_rows(sf_dir, "embeddings")
    if n is None:
        n = all_v.count()
    m = (n + _KNN_TARGET_BUCKET - 1) // _KNN_TARGET_BUCKET
    bits = max(
        _KNN_MIN_BITS,
        min(_KNN_MAX_BITS, (m - 1).bit_length() if m > 1 else 1),
    )
    sigs = sign_signatures(all_v, bits)
    buckets = sigs.select(
        "vec_id",
        F.expr(
            f"aggregate(sequence(0, {bits - 1}), 0L, (acc, j) -> "
            f"acc + IF(signs[j], cast(shiftleft(1, j) as bigint), 0L))"
        ).alias("bucket"),
    )
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(
            F.expr(
                "aggregate(transform(v, x -> x * x), cast(0.0 as double),"
                " (acc, v) -> acc + v)"
            )
            > 0
        )
    )
    # Per-bucket top-k INSIDE one applyInPandas group: every vector
    # lives in exactly one bucket (single band), so its entire top-k
    # is local to the group — the bucket equi-self-join, the two
    # array-carrying verify joins and the global rank window all
    # collapse into one vector-per-row shuffle plus an in-kernel
    # EXACT-fold Gram (functions/lsh.py — cosines bit-identical to
    # the oracle's sequential list_sum fold, ranking ties broken by
    # neighbor id exactly like the oracle's ORDER BY cs DESC, nid).
    import pandas as pd

    from ..deploy import ensure_worker_imports
    from ..functions.lsh import fold_gram, fold_norms

    ensure_worker_imports(emb)
    k = _KNN_K
    empty_knn = pd.DataFrame(
        {
            "vec_id": pd.Series([], dtype="int64"),
            "neighbor_id": pd.Series([], dtype="int64"),
            "cs": pd.Series([], dtype="float64"),
            "rank": pd.Series([], dtype="int32"),
        }
    )

    def bucket_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        c = len(pdf)
        if c < 2:
            return empty_knn
        ids = pdf["vec_id"].to_numpy()
        V = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        nrm = fold_norms(V)
        CS = fold_gram(V) / (nrm[:, None] * nrm[None, :])
        out_v, out_n, out_c, out_r = [], [], [], []
        others = np.arange(c)
        for r in range(c):
            mask = others != r
            nid, s = ids[mask], CS[r, mask]
            top = np.lexsort((nid, -s))[:k]
            out_v.extend([ids[r]] * len(top))
            out_n.extend(nid[top])
            out_c.extend(s[top])
            out_r.extend(range(1, len(top) + 1))
        return pd.DataFrame(
            {
                "vec_id": np.asarray(out_v, dtype="int64"),
                "neighbor_id": np.asarray(out_n, dtype="int64"),
                "cs": np.asarray(out_c, dtype="float64"),
                "rank": np.asarray(out_r, dtype="int32"),
            }
        )

    scored = (
        buckets.join(emb, "vec_id")
        .groupBy("bucket")
        .applyInPandas(
            bucket_topk, "vec_id long, neighbor_id long, cs double, rank int"
        )
    )
    return scored.select(
        "vec_id",
        "neighbor_id",
        stable_round("cs", 4).alias("cos_sim"),
        "rank",
    )


# ---------------------------------------------------------------------------
# hard-negative mining (retrieval / embedding training prep)
# ---------------------------------------------------------------------------

_HN_K = 5          # negatives kept per query
_HN_TARGET_Q = 200  # target query count -> stratum scales with n
_HN_MIN_MD = 4      # stratum floor (1-in-K)

_HARD_NEG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
params AS (
  SELECT greatest({_HN_MIN_MD},
                  ((SELECT count(*) FROM e) + {_HN_TARGET_Q - 1})
                  // {_HN_TARGET_Q}) AS md
),
n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) AS nrm
  FROM e
),
q AS (SELECT * FROM n WHERE vec_id % (SELECT md FROM params) = 0 AND nrm > 0),
c AS (SELECT * FROM n WHERE nrm > 0),
s AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         c.label AS neg_label,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
           / (q.nrm * c.nrm) AS cs
  FROM q JOIN c ON c.label <> q.label
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, neg_label,
       floor(cs * 1e4 + 0.5) / 1e4 AS cos_sim, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= {_HN_K}
"""


@query(
    "sim_hard_negatives",
    oracle=_HARD_NEG_ORACLE,
    doc=f"Hard-negative mining — per query vector, the top-{_HN_K} most "
    "cosine-similar vectors with a DIFFERENT label: the standard "
    "negatives pass for contrastive retrieval/embedding training "
    "(near-misses teach the margin; random negatives are too easy). "
    f"Queries are the deterministic 1-in-md adaptive stratum (md = "
    f"max({_HN_MIN_MD}, ceil(n / {_HN_TARGET_Q})), the maxsim/SemDeDup "
    "rule), so query count stays ~constant and total work is LINEAR "
    "in corpus size. Shape: the bounded query set rides into a "
    "mapInPandas closure (bounded-collect class, same as the IVF/PQ "
    "samples); ONE corpus pass computes each Arrow batch's exact-fold "
    "Gram against the queries (functions/lsh.py — cosines "
    "bit-identical to the oracle's sequential list_sum fold) and "
    "emits batch-local top-k under the global (cs DESC, neighbor_id) "
    "total order; a final per-query window merges k*batches rows — "
    "the distributed-TakeOrdered shape, no corpus self-join, no "
    "shuffle of vector arrays",
    tags=("similarity", "embedding", "dataset", "ext"),
)
def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..deploy import ensure_worker_imports
    from ..functions.lsh import fold_gram, fold_norms

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    )
    ensure_worker_imports(emb)
    from ..plans.two_phase import parquet_rows

    n = parquet_rows(sf_dir, "embeddings")  # exact footer count, no job
    if n is None:
        n = emb.count()
    md = max(_HN_MIN_MD, -(-n // _HN_TARGET_Q))
    q_rows = (
        emb.filter(F.col("vec_id") % md == 0)
        .orderBy("vec_id")
        .collect()
    )
    Vq_all = np.array([r["v"] for r in q_rows], dtype=np.float64)
    if len(Vq_all) == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, neg_label int, "
            "cos_sim double, rank int"
        )
    nq_all = fold_norms(Vq_all)
    keep = nq_all > 0
    Vq, nq = Vq_all[keep], nq_all[keep]
    qid = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)[keep]
    qlab = np.array([r["label"] for r in q_rows], dtype=np.int64)[keep]
    k = _HN_K

    empty = pd.DataFrame(
        {
            "query_id": pd.Series([], dtype="int64"),
            "neighbor_id": pd.Series([], dtype="int64"),
            "neg_label": pd.Series([], dtype="int32"),
            "cs": pd.Series([], dtype="float64"),
        }
    )

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                yield empty
                continue
            Vc = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            nc = fold_norms(Vc)
            ok = nc > 0
            if not ok.any():
                yield empty
                continue
            Vc, nc = Vc[ok], nc[ok]
            cid = pdf["vec_id"].to_numpy()[ok]
            clab = pdf["label"].to_numpy()[ok]
            # (queries x batch) exact-fold cosines; same-label pairs
            # masked out (the query itself is same-label with itself)
            G = fold_gram(Vq, Vc)
            CS = G / (nq[:, None] * nc[None, :])
            same = qlab[:, None] == clab[None, :]
            CS = np.where(same, -np.inf, CS)
            out_q, out_n, out_l, out_c = [], [], [], []
            kk = min(k, CS.shape[1])
            for j in range(len(qid)):
                row = CS[j]
                top = np.lexsort((cid, -row))[:kk]
                top = top[np.isfinite(row[top])]
                out_q.extend([qid[j]] * len(top))
                out_n.extend(cid[top])
                out_l.extend(clab[top])
                out_c.extend(row[top])
            yield pd.DataFrame(
                {
                    "query_id": np.asarray(out_q, dtype="int64"),
                    "neighbor_id": np.asarray(out_n, dtype="int64"),
                    "neg_label": np.asarray(out_l, dtype="int32"),
                    "cs": np.asarray(out_c, dtype="float64"),
                }
            )

    local_topk = emb.mapInPandas(
        fn, "query_id long, neighbor_id long, neg_label int, cs double"
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), "neighbor_id")
    return (
        local_topk.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "neg_label",
            stable_round("cs", 4).alias("cos_sim"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# index-backed hard negatives (round 8): IVF candidates + exact verify
# ---------------------------------------------------------------------------


def _ivf_ranked(emb: DataFrame) -> DataFrame:
    """Shared IVF routing stage: (vec_id, cent_id, rn) for rn <=
    max(1, nprobe) by cosine against the broadcast sampled-k-means
    centroids — exactly sim_ivf_topk's assign/probe window, factored
    out so the ANN verify queries search the SAME registered index.
    ``emb`` must carry (vec_id, v, nrm). Persisted: both the assign
    (rn=1) and probe (rn<=nprobe) branches read it."""
    cent = _ivf_centroids(emb).withColumn("cn", F.expr(_NORM_CV_SPARK))
    pairs = emb.crossJoin(F.broadcast(cent)).withColumn(
        "cc", F.try_divide(F.expr(_DOT_VC_SPARK), F.col("nrm") * F.col("cn"))
    )
    wv = Window.partitionBy("vec_id").orderBy(F.desc("cc"), "cent_id")
    return track_persist(
        pairs.withColumn("rn", F.row_number().over(wv))
        .filter(F.col("rn") <= max(1, _IVF_NPROBE))
        .select("vec_id", "cent_id", "rn")
    )


_HARD_NEG_ANN_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
{_ivf_kmeans_cte()}
params AS (
  SELECT greatest({_HN_MIN_MD},
                  ((SELECT count(*) FROM e) + {_HN_TARGET_Q - 1})
                  // {_HN_TARGET_Q}) AS md
),
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
    FROM e CROSS JOIN cent c
    WHERE e.vec_id % (SELECT md FROM params) = 0
  ) WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT q.query_id, a.vec_id AS neighbor_id
  FROM qprobe q JOIN assign a ON a.cent_id = q.cent_id
  WHERE a.vec_id <> q.query_id
),
n AS (
  SELECT vec_id, label, v,
         sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) AS nrm
  FROM e
),
s AS (
  SELECT cd.query_id, cd.neighbor_id, ne.label AS neg_label,
         list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i]))
           / (qe.nrm * ne.nrm) AS cs
  FROM cand cd
  JOIN n qe ON qe.vec_id = cd.query_id AND qe.nrm > 0
  JOIN n ne ON ne.vec_id = cd.neighbor_id AND ne.nrm > 0
  WHERE ne.label <> qe.label
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cs DESC, neighbor_id) AS rn
  FROM s
)
SELECT query_id, neighbor_id, neg_label,
       floor(cs * 1e4 + 0.5) / 1e4 AS cos_sim, CAST(rn AS INTEGER) AS rank
FROM r WHERE rn <= {_HN_K}
"""


@query(
    "sim_hard_negatives_ann",
    oracle=_HARD_NEG_ANN_ORACLE,
    doc="Index-backed hard-negative mining — sim_hard_negatives' "
    "output contract (per stratum query, the top-k most cosine-similar "
    "DIFFERENT-label vectors) with candidates from the registered IVF "
    "index instead of an exact corpus pass: queries route through "
    "sim_ivf_topk's coarse quantizer to their nprobe nearest centroid "
    "lists, and only list members are exact-cosine-verified — the "
    "candidates-from-index / verify-exact split that took the dedup "
    "family from all-pairs to bucketed (dedup_semantic_keep_lsh), "
    "applied to the one similarity query that still paid a full Gram "
    "pass per corpus. Work per query drops from n to ~n*nprobe/K "
    "(K grows with corpus at production; both are the registered "
    "sim_ivf_topk constants here so the oracle composes that proven "
    "CTE chain verbatim). Shape: bounded-sample centroid fit "
    "(broadcast), one cent_id-keyed candidate join of ID PAIRS (no "
    "vectors ride it), neighbor vectors join candidates on "
    "neighbor_id in ONE pass, the bounded query batch broadcasts in "
    "last, and cosines project to 4 scalar columns BEFORE the rank "
    "window — no vector ever rides the window shuffle",
    tags=("similarity", "embedding", "dataset", "ext"),
)
def sim_hard_negatives_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        load(spark, sf_dir, "embeddings")
        .select(
            "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
        )
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .withColumn("nrm", F.expr(_NORM_SPARK))
    )
    from ..plans.two_phase import parquet_rows

    n = parquet_rows(sf_dir, "embeddings")  # exact footer count, no job
    if n is None:
        n = emb.count()
    md = max(_HN_MIN_MD, -(-n // _HN_TARGET_Q))
    ranked = _ivf_ranked(emb)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    qprobe = ranked.filter(
        (F.col("vec_id") % md == 0) & (F.col("rn") <= _IVF_NPROBE)
    ).select(F.col("vec_id").alias("query_id"), "cent_id")
    cand = (
        F.broadcast(qprobe)
        .join(assign, "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    qe = emb.filter((F.col("vec_id") % md == 0) & (F.col("nrm") > 0)).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlab"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    ne = emb.filter(F.col("nrm") > 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neg_label"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    # candidate ids join the neighbor vectors FIRST (one ne pass rides
    # the neighbor_id shuffle), then the bounded query batch broadcasts
    # in — so query vectors never ride a shuffle either
    scored = (
        cand.join(ne, "neighbor_id")
        .join(F.broadcast(qe), "query_id")
        .filter(F.col("neg_label") != F.col("qlab"))
        .select(
            "query_id",
            "neighbor_id",
            "neg_label",
            F.try_divide(
                F.expr(_DOT_AB_SPARK), F.col("an") * F.col("bn")
            ).alias("cs"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cs"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _HN_K)
        .select(
            "query_id",
            "neighbor_id",
            "neg_label",
            stable_round("cs", 4).alias("cos_sim"),
            "rank",
        )
    )


@query(
    "sim_hard_negatives_recall",
    oracle=f"""
WITH ex AS ({_HARD_NEG_ORACLE}),
an AS ({_HARD_NEG_ANN_ORACLE}),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM ex e JOIN an a ON a.query_id = e.query_id
   AND a.neighbor_id = e.neighbor_id
  GROUP BY e.query_id
),
per_q AS (
  SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
  FROM ex GROUP BY query_id
)
SELECT p.query_id, p.n_exact,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST((2 * coalesce(h.n_hits, 0) * 1000000 + p.n_exact)
            // (2 * p.n_exact) AS BIGINT) AS recall_ppm
FROM per_q p LEFT JOIN hits h ON h.query_id = p.query_id
""",
    doc=f"ANN quality audit for index-backed hard negatives - "
    f"recall@{_HN_K} of sim_hard_negatives_ann against the exact-pass "
    "ground truth per query: the go/no-go report for mining negatives "
    "from the IVF lists instead of a full Gram pass, the exact "
    "analogue of sim_ivfpq_recall for this family (what does ROUTING "
    "lose when candidates must also be different-label?). Both sides "
    "are the registered queries; the oracle composes the two proven "
    "oracles. Cost: the parents' plans + one (query, neighbor) "
    "equi-join over two top-k lists",
    tags=("similarity", "eval", "embedding", "ext"),
)
def sim_hard_negatives_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = sim_hard_negatives(spark, sf_dir).select("query_id", "neighbor_id")
    ann = sim_hard_negatives_ann(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    hits = (
        exact.join(ann, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("_nh"))
    )
    per_q = exact.groupBy("query_id").agg(
        F.count("*").cast("bigint").alias("n_exact")
    )
    nh = F.coalesce(F.col("_nh"), F.lit(0))
    return per_q.join(hits, "query_id", "left").select(
        "query_id",
        "n_exact",
        nh.cast("bigint").alias("n_hits"),
        F.expr(
            "(2 * coalesce(_nh, 0) * 1000000 + n_exact) div (2 * n_exact)"
        )
        .cast("bigint")
        .alias("recall_ppm"),
    )


# ---------------------------------------------------------------------------
# quota keep (round 7): soft dedup — keep up to m per near-dup cluster
# ---------------------------------------------------------------------------

_QUOTA_M = 2  # documents kept per near-dup cluster

_KEEP_QUOTA_ORACLE = f"""
WITH RECURSIVE
sh AS ({_SQL_SHINGLES}),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
p0 AS (
  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY x.doc_id, y.doc_id
),
jac AS (
  SELECT p.doc_a, p.doc_b
  FROM p0 p
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
  WHERE p.n_common * 1.0 / (sa.n + sb.n - p.n_common) >= 0.2
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM jac
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM jac
),
cc(doc_id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.dst, c.lbl FROM cc c JOIN edges e ON e.src = c.doc_id
),
lbl AS (SELECT doc_id, min(lbl) AS cluster_id FROM cc GROUP BY doc_id),
ranked AS (
  SELECT doc_id, cluster_id,
         row_number() OVER (PARTITION BY cluster_id ORDER BY doc_id) AS rn
  FROM lbl
)
SELECT d.doc_id, r.cluster_id, CAST(r.rn AS INTEGER) AS keep_rank,
       d.lang, d.n_chars
FROM documents d JOIN ranked r ON d.doc_id = r.doc_id
WHERE r.rn <= {_QUOTA_M}
"""


@query(
    "dedup_keep_quota",
    oracle=_KEEP_QUOTA_ORACLE,
    doc=f"Soft dedup — keep up to {_QUOTA_M} documents per near-dup "
    "cluster instead of dedup_keep_canonical's single survivor: the "
    "quota variant curation pipelines use when hard dedup is too "
    "aggressive (duplicates carry signal about distribution; some "
    "replication is wanted for high-quality sources, per the "
    "deduplicate-but-not-to-one findings). Same proven stages "
    "(shingle equi-join candidates, star CC), then ONE deterministic "
    "rank window per cluster (ORDER BY doc_id; a quality score drops "
    "into the same ORDER BY slot) bounded by the quota — the window "
    "partitions on cluster_id, so no skew beyond the largest cluster, "
    "and the payload join hash-partitions on the doc key",
    tags=("dedup", "ext", "pipeline"),
)
def dedup_keep_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    clusters = dedup_cc_star(spark, sf_dir)
    w = Window.partitionBy("cluster_id").orderBy("doc_id")
    kept = (
        clusters.withColumn("keep_rank", F.row_number().over(w))
        .filter(F.col("keep_rank") <= _QUOTA_M)
        .select("doc_id", "cluster_id", F.col("keep_rank").cast("int"))
    )
    return docs.join(kept, "doc_id").select(
        "doc_id", "cluster_id", "keep_rank", "lang", "n_chars"
    )


# ---------------------------------------------------------------------------
# semantic decontamination (round 7): embedding-level train/test leakage
# ---------------------------------------------------------------------------

_SCON_THRESHOLD = 0.45  # cosine above which a test vector is contaminated
_SCON_SPLIT_MOD = 10    # md5 split: 9/10 train, 1/10 test
_SCON_TARGET_Q = 200    # audit stratum target over the test side
_SCON_MIN_MD = 1

_SCON_HASH = "CAST(('0x' || substr(md5('sc' || CAST(vec_id AS VARCHAR)), 1, 12)) AS BIGINT)"

_SEMANTIC_CONTAM_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_SCON_HASH} % {_SCON_SPLIT_MOD} = 0 AS is_test
  FROM embeddings
),
n AS (
  SELECT vec_id, v, is_test,
         sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) AS nrm
  FROM e
),
params AS (
  SELECT greatest({_SCON_MIN_MD},
                  ((SELECT count(*) FROM n WHERE is_test) + {_SCON_TARGET_Q - 1})
                  // {_SCON_TARGET_Q}) AS md
),
q AS (
  SELECT * FROM n
  WHERE is_test AND nrm > 0 AND vec_id % (SELECT md FROM params) = 0
),
c AS (SELECT * FROM n WHERE NOT is_test AND nrm > 0),
s AS (
  SELECT q.vec_id AS test_id, c.vec_id AS train_id,
         list_sum(list_transform(range(1, 65), i -> q.v[i] * c.v[i]))
           / (q.nrm * c.nrm) AS cs
  FROM q JOIN c ON TRUE
),
best AS (
  SELECT test_id, train_id, cs,
         row_number() OVER (PARTITION BY test_id
                            ORDER BY cs DESC, train_id) AS rn
  FROM s
)
SELECT test_id, train_id AS nearest_train_id,
       floor(cs * 1e4 + 0.5) / 1e4 AS cos_sim,
       cs > {_SCON_THRESHOLD} AS contaminated
FROM best WHERE rn = 1
"""


@query(
    "contamination_semantic",
    oracle=_SEMANTIC_CONTAM_ORACLE,
    doc="Semantic decontamination — the embedding-level companion of "
    "contamination_ngram/bloom: for each test-split vector (md5 "
    "1-in-10 split, audit stratum by the adaptive 1-in-md rule), the "
    "single nearest train-split vector by exact-fold cosine and a "
    f"contaminated verdict at cos > {_SCON_THRESHOLD} — paraphrased/"
    "near-duplicate eval leakage that n-gram matching cannot see "
    "(embedding-similarity decon is the standard complement). Shape "
    "identical to sim_hard_negatives: the bounded test-query set "
    "rides into ONE mapInPandas pass over the train corpus "
    "(exact-fold Gram, functions/lsh.py), each batch emits its local "
    "best under the (cs DESC, train_id) total order, one per-test "
    "window takes the global argmax — linear in train-corpus size, "
    "no vector shuffle. At production scale the full (bounded) eval "
    "set replaces the stratum in the same slot",
    tags=("dedup", "similarity", "eval", "dataset", "ext"),
)
def contamination_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    from ..deploy import ensure_worker_imports
    from ..functions.lsh import fold_gram, fold_norms

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    ensure_worker_imports(emb)
    is_test = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sc"), F.col("vec_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % _SCON_SPLIT_MOD
        == 0
    )
    tagged = emb.withColumn("is_test", is_test)
    n_test = tagged.filter("is_test").count()
    md = max(_SCON_MIN_MD, -(-n_test // _SCON_TARGET_Q))
    q_rows = (
        tagged.filter("is_test")
        .filter(F.col("vec_id") % md == 0)
        .orderBy("vec_id")
        .collect()
    )
    Vq_all = np.array([r["v"] for r in q_rows], dtype=np.float64)
    if len(Vq_all) == 0:
        return spark.createDataFrame(
            [], "test_id long, nearest_train_id long, cos_sim double, "
            "contaminated boolean"
        )
    nq_all = fold_norms(Vq_all)
    keep = nq_all > 0
    Vq, nq = Vq_all[keep], nq_all[keep]
    qid = np.array([r["vec_id"] for r in q_rows], dtype=np.int64)[keep]

    empty = pd.DataFrame(
        {
            "test_id": pd.Series([], dtype="int64"),
            "train_id": pd.Series([], dtype="int64"),
            "cs": pd.Series([], dtype="float64"),
        }
    )

    def fn(batches):
        for pdf in batches:
            if pdf.empty:
                yield empty
                continue
            Vc = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            nc = fold_norms(Vc)
            ok = nc > 0
            if not ok.any():
                yield empty
                continue
            Vc, nc = Vc[ok], nc[ok]
            cid = pdf["vec_id"].to_numpy()[ok]
            CS = fold_gram(Vq, Vc) / (nq[:, None] * nc[None, :])
            # batch-local argmax per test vector under (cs desc, id asc)
            out_q, out_n, out_c = [], [], []
            for j in range(len(qid)):
                row = CS[j]
                top = np.lexsort((cid, -row))[0]
                out_q.append(qid[j])
                out_n.append(cid[top])
                out_c.append(row[top])
            yield pd.DataFrame(
                {
                    "test_id": np.asarray(out_q, dtype="int64"),
                    "train_id": np.asarray(out_n, dtype="int64"),
                    "cs": np.asarray(out_c, dtype="float64"),
                }
            )

    local_best = (
        tagged.filter(~F.col("is_test"))
        .select("vec_id", "v")
        .mapInPandas(fn, "test_id long, train_id long, cs double")
    )
    w = Window.partitionBy("test_id").orderBy(F.desc("cs"), "train_id")
    return (
        local_best.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "test_id",
            F.col("train_id").alias("nearest_train_id"),
            stable_round("cs", 4).alias("cos_sim"),
            (F.col("cs") > _SCON_THRESHOLD).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# index-backed semantic decontamination (round 8)
# ---------------------------------------------------------------------------

_SEMANTIC_CONTAM_ANN_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
         {_SCON_HASH} % {_SCON_SPLIT_MOD} = 0 AS is_test
  FROM embeddings
),
{_ivf_kmeans_cte()}
params AS (
  SELECT greatest({_SCON_MIN_MD},
                  ((SELECT count(*) FROM e WHERE is_test) + {_SCON_TARGET_Q - 1})
                  // {_SCON_TARGET_Q}) AS md
),
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
    FROM e CROSS JOIN cent c
    WHERE e.is_test AND e.vec_id % (SELECT md FROM params) = 0
  ) WHERE rn <= {_IVF_NPROBE}
),
cand AS (
  SELECT q.query_id, a.vec_id AS neighbor_id
  FROM qprobe q JOIN assign a ON a.cent_id = q.cent_id
),
n AS (
  SELECT vec_id, v, is_test,
         sqrt(list_sum(list_transform(range(1, 65), i -> v[i] * v[i]))) AS nrm
  FROM e
),
s AS (
  SELECT cd.query_id AS test_id, cd.neighbor_id AS train_id,
         list_sum(list_transform(range(1, 65), i -> qe.v[i] * ne.v[i]))
           / (qe.nrm * ne.nrm) AS cs
  FROM cand cd
  JOIN n qe ON qe.vec_id = cd.query_id AND qe.nrm > 0
  JOIN n ne ON ne.vec_id = cd.neighbor_id AND NOT ne.is_test AND ne.nrm > 0
),
best AS (
  SELECT test_id, train_id, cs,
         row_number() OVER (PARTITION BY test_id
                            ORDER BY cs DESC, train_id) AS rn
  FROM s
)
SELECT test_id, train_id AS nearest_train_id,
       floor(cs * 1e4 + 0.5) / 1e4 AS cos_sim,
       cs > {_SCON_THRESHOLD} AS contaminated
FROM best WHERE rn = 1
"""


@query(
    "contamination_semantic_ann",
    oracle=_SEMANTIC_CONTAM_ANN_ORACLE,
    doc="Index-backed semantic decontamination — contamination_semantic's "
    "output contract (per stratum test vector, the nearest TRAIN vector "
    "and a contaminated verdict) with candidates from the registered "
    "IVF index instead of an exact pass over the whole train corpus: "
    "test queries route through sim_ivf_topk's coarse quantizer to "
    "their nprobe nearest lists and only list members are exact-"
    "cosine-verified (the sim_hard_negatives_ann pattern; same oracle "
    "composition of the proven k-means CTE chain). A test vector whose "
    "probed lists hold no train vectors drops out — the ANN trade, "
    "priced by reading this next to the exact query the way "
    "sim_ivfpq_recall prices IVF+PQ. Shape identical to "
    "sim_hard_negatives_ann: ID pairs ride the candidate join, train "
    "vectors ride ONE neighbor_id join pass, the bounded test batch "
    "broadcasts, and the argmax window sees 3 scalar columns",
    tags=("dedup", "similarity", "eval", "dataset", "ext"),
)
def contamination_semantic_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    is_test = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sc"), F.col("vec_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % _SCON_SPLIT_MOD
        == 0
    )
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .repartition(spark.sparkContext.defaultParallelism, "vec_id")
        .withColumn("nrm", F.expr(_NORM_SPARK))
        .withColumn("is_test", is_test)
    )
    n_test = emb.filter("is_test").count()
    md = max(_SCON_MIN_MD, -(-n_test // _SCON_TARGET_Q))
    ranked = _ivf_ranked(emb)
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", "cent_id")
    # is_test is a pure function of vec_id, so the probe filter applies
    # directly on the ranked frame without joining back to the vectors
    ranked_is_test = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sc"), F.col("vec_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % _SCON_SPLIT_MOD
        == 0
    )
    qprobe = ranked.filter(
        ranked_is_test
        & (F.col("vec_id") % md == 0)
        & (F.col("rn") <= _IVF_NPROBE)
    ).select(F.col("vec_id").alias("query_id"), "cent_id")
    cand = (
        F.broadcast(qprobe)
        .join(assign, "cent_id")
        .select("query_id", F.col("vec_id").alias("neighbor_id"))
    )
    qe = emb.filter(
        F.col("is_test") & (F.col("vec_id") % md == 0) & (F.col("nrm") > 0)
    ).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    ne = emb.filter(~F.col("is_test") & (F.col("nrm") > 0)).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    scored = (
        cand.join(ne, "neighbor_id")
        .join(F.broadcast(qe), "query_id")
        .select(
            F.col("query_id").alias("test_id"),
            F.col("neighbor_id").alias("train_id"),
            F.try_divide(
                F.expr(_DOT_AB_SPARK), F.col("an") * F.col("bn")
            ).alias("cs"),
        )
    )
    w = Window.partitionBy("test_id").orderBy(F.desc("cs"), "train_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "test_id",
            F.col("train_id").alias("nearest_train_id"),
            stable_round("cs", 4).alias("cos_sim"),
            (F.col("cs") > _SCON_THRESHOLD).alias("contaminated"),
        )
    )


@query(
    "contamination_semantic_agreement",
    oracle=f"""
WITH ex AS ({_SEMANTIC_CONTAM_ORACLE}),
an AS ({_SEMANTIC_CONTAM_ANN_ORACLE})
SELECT e.test_id,
       a.nearest_train_id IS NOT NULL AS ann_found,
       coalesce(a.nearest_train_id = e.nearest_train_id, FALSE)
         AS same_nearest,
       coalesce(a.contaminated = e.contaminated, NOT e.contaminated)
         AS same_verdict
FROM ex e LEFT JOIN an a ON a.test_id = e.test_id
""",
    doc="Decision-level audit for index-backed decontamination - per "
    "stratum test vector, does contamination_semantic_ann reach the "
    "exact query's verdict? Columns: whether the ANN variant found ANY "
    "candidate (a probed-list miss drops the test id - the ANN trade), "
    "whether it found the SAME nearest train vector, and whether the "
    "contaminated VERDICT agrees - the column that matters: a different "
    "nearest neighbor above/below the same threshold is harmless, a "
    "flipped verdict is leakage passed through. The before-you-switch "
    "report for replacing the exact decon pass with the indexed one; "
    "oracle composed from the two registered oracles",
    tags=("dedup", "similarity", "eval", "ext"),
)
def contamination_semantic_agreement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    ex = contamination_semantic(spark, sf_dir).select(
        "test_id",
        F.col("nearest_train_id").alias("ex_train"),
        F.col("contaminated").alias("ex_verdict"),
    )
    an = contamination_semantic_ann(spark, sf_dir).select(
        "test_id",
        F.col("nearest_train_id").alias("ann_train"),
        F.col("contaminated").alias("ann_verdict"),
    )
    j = ex.join(an, "test_id", "left")
    return j.select(
        "test_id",
        F.col("ann_train").isNotNull().alias("ann_found"),
        F.coalesce(F.col("ann_train") == F.col("ex_train"), F.lit(False)).alias(
            "same_nearest"
        ),
        F.coalesce(
            F.col("ann_verdict") == F.col("ex_verdict"), ~F.col("ex_verdict")
        ).alias("same_verdict"),
    )


# ---------------------------------------------------------------------------
# doc_ngram_novelty (round 7): per-doc corpus-contribution metric
# ---------------------------------------------------------------------------

_NOVELTY_ORACLE = f"""
WITH sh AS ({_SQL_SHINGLES}),
ids AS (
  SELECT doc_id,
         CAST(('0x' || substr(md5(shingle), 1, 12)) AS BIGINT) AS sid
  FROM sh
),
first_seen AS (
  SELECT sid, min(doc_id) AS first_doc FROM ids GROUP BY sid
),
per_doc AS (
  SELECT ids.doc_id,
         CAST(count(*) AS BIGINT) AS n_shingles,
         CAST(count(*) FILTER (WHERE first_doc = ids.doc_id) AS BIGINT)
           AS n_novel
  FROM ids JOIN first_seen USING (sid)
  GROUP BY ids.doc_id
)
SELECT doc_id, n_shingles, n_novel,
       CAST((2 * n_novel * 1000000 + n_shingles) // (2 * n_shingles)
            AS BIGINT) AS novelty_ppm
FROM per_doc
"""


@query(
    "doc_ngram_novelty",
    oracle=_NOVELTY_ORACLE,
    doc="Per-document novelty: the fraction of a doc's distinct "
    "3-shingles whose corpus-wide FIRST occurrence (min doc_id) is the "
    "doc itself — the contribution/diversity metric of the Lee-et-al "
    "novel-tokens family (a doc of all-recycled shingles scores 0; the "
    "corpus's first doc scores 1e6 ppm). Deduplication asks 'is this a "
    "copy?'; novelty asks the curation question 'does keeping this doc "
    "add anything?'. Shingle ids are the md5-derived 48-bit sids on "
    "BOTH engines so a hash collision collapses identically, shuffles "
    "carry 8-byte ids never text, and the ratio is the exact rounded-"
    "integer-ppm division — no floats anywhere. Shape: the shared "
    "shingle frame, one sid-keyed min aggregate (map-side combinable), "
    "one sid-keyed join back, one doc-keyed count — the dedup family's "
    "proven scale pattern",
    tags=("text", "dedup", "curation", "ext"),
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = _doc_shingles(spark, sf_dir)
    ids = track_persist(
        sh.select(
            "doc_id",
            F.conv(F.substring(F.md5("shingle"), 1, 12), 16, 10)
            .cast("bigint")
            .alias("sid"),
        )
    )
    first_seen = ids.groupBy("sid").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        ids.join(first_seen, "sid")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1))
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_novel",
        F.expr(
            "(2 * n_novel * 1000000 + n_shingles) div (2 * n_shingles)"
        )
        .cast("bigint")
        .alias("novelty_ppm"),
    )


# ---------------------------------------------------------------------------
# text_token_fertility (round 7): the multilingual tokenizer-efficiency
# report
# ---------------------------------------------------------------------------

_FERT_ORACLE = r"""
WITH per_doc AS (
  SELECT lang,
         CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_ws,
         CAST(len(regexp_extract_all(lower(text),
              '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe,
         CAST(length(text) AS BIGINT) AS n_chr
  FROM documents
),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(coalesce(sum(n_ws), 0) AS BIGINT) AS sum_ws,
         CAST(coalesce(sum(n_bpe), 0) AS BIGINT) AS sum_bpe,
         CAST(coalesce(sum(n_chr), 0) AS BIGINT) AS sum_chars
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, sum_ws, sum_bpe, sum_chars,
       CAST(CASE WHEN sum_ws = 0 THEN 0
            ELSE (2 * sum_bpe * 1000000 + sum_ws) // (2 * sum_ws) END
            AS BIGINT) AS fertility_ppm,
       CAST(CASE WHEN sum_bpe = 0 THEN 0
            ELSE (2 * sum_chars * 1000000 + sum_bpe) // (2 * sum_bpe) END
            AS BIGINT) AS chars_per_token_ppm
FROM agg
"""


@query(
    "text_token_fertility",
    oracle=_FERT_ORACLE,
    doc="Tokenizer fertility by language (the mBERT/XLM-R multilingual "
    "efficiency metric): per lang the subword-per-word ratio (BPE-ish "
    "regex tokens / whitespace words) and chars-per-token, in exact "
    "rounded-integer ppm over BIGINT corpus sums — the report that "
    "decides whether a tokenizer taxes some languages with 2-3x more "
    "tokens per word (and therefore 2-3x the training/serving cost for "
    "the same text). Null-text docs count toward n_docs but contribute "
    "nothing to the sums, identically on both engines. Shape: one "
    "stateless per-doc projection + one lang-keyed map-side-combinable "
    "aggregate; output O(languages)",
    tags=("text", "analytics", "ext"),
)
def text_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.size(F.split("text", r"\s+")).cast("bigint").alias("n_ws"),
        F.size(
            F.regexp_extract_all(
                F.lower("text"), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9\s]"), 0
            )
        )
        .cast("bigint")
        .alias("n_bpe"),
        F.length("text").cast("bigint").alias("n_chr"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.coalesce(F.sum("n_ws"), F.lit(0)).cast("bigint").alias("sum_ws"),
        F.coalesce(F.sum("n_bpe"), F.lit(0)).cast("bigint").alias("sum_bpe"),
        F.coalesce(F.sum("n_chr"), F.lit(0)).cast("bigint").alias("sum_chars"),
    )
    return agg.select(
        "lang",
        "n_docs",
        "sum_ws",
        "sum_bpe",
        "sum_chars",
        F.expr(
            "CASE WHEN sum_ws = 0 THEN 0 "
            "ELSE (2 * sum_bpe * 1000000 + sum_ws) div (2 * sum_ws) END"
        )
        .cast("bigint")
        .alias("fertility_ppm"),
        F.expr(
            "CASE WHEN sum_bpe = 0 THEN 0 "
            "ELSE (2 * sum_chars * 1000000 + sum_bpe) div (2 * sum_bpe) END"
        )
        .cast("bigint")
        .alias("chars_per_token_ppm"),
    )
