"""Streaming-vs-batch parity on the DRIVER tables at sf0.01 — not
synthetic fixtures: each streaming sibling (stateful segmentation,
as-of enrich, sliding / tumbling / session windows) must reproduce its
batch twin row-for-row on the same events table the correctness gate
uses.

Method: materialize the batch-loaded table to a tmp parquet drop
folder (one or two files), readStream it with availableNow, sink to a
memory table, and compare against the registered batch query / batch
operator output.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from talknet_segmentation_batchprocessing_spark import registry
from talknet_segmentation_batchprocessing_spark.registry import load

from .conftest import SF_CORRECT

registry._ensure_loaded()


def _drain(stream_df, tmp_path, name, mode="append"):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", str(tmp_path / f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}").toPandas()


@pytest.fixture(scope="module")
def events_drop(spark, tmp_path_factory):
    """The sf0.01 events table re-written as a parquet drop folder."""
    p = tmp_path_factory.mktemp("events_drop")
    ev = load(spark, SF_CORRECT, "events")
    ev.coalesce(1).write.parquet(str(p / "b0"))
    return p, ev.schema


def test_streaming_asof_matches_batch_j9(spark, events_drop, tmp_path):
    """streaming/enrich.py vs the registered j9_asof_join, including
    the integer-microsecond gap rounding on every matched click."""
    from talknet_segmentation_batchprocessing_spark.streaming.enrich import (
        stateful_enrich_latest,
    )

    drop, schema = events_drop
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(drop / "*"))
        .select(
            "user_id",
            "event_id",
            "event_type",
            F.col("ts").cast("timestamp").cast("double").alias("ts"),
        )
    )
    got = _drain(stateful_enrich_latest(stream), tmp_path, "asof_stream")
    want = (
        registry.REGISTRY["j9_asof_join"]
        .fn(spark, SF_CORRECT)
        .toPandas()
    )
    assert len(got) == len(want) > 0
    m = want.merge(got, on="event_id", suffixes=("_b", "_s"))
    assert len(m) == len(want)
    pv_b = m["prior_view_id_b"].astype("float64")
    pv_s = m["prior_view_id_s"].astype("float64")
    assert ((pv_b == pv_s) | (pv_b.isna() & pv_s.isna())).all()
    g_b, g_s = m["gap_s_b"], m["gap_s_s"]
    # exact: both sides round in integer microseconds
    assert ((g_b == g_s) | (g_b.isna() & g_s.isna())).all()


def test_streaming_sliding_matches_batch_w11(spark, events_drop, tmp_path):
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        sliding_window_counts,
    )

    drop, schema = events_drop
    # watermarks require TIMESTAMP (parquet surfaces TIMESTAMP_NTZ)
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(drop / "*"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    # complete mode: a single bounded drain never advances the
    # watermark past the tail windows, so append would drop them
    got = _drain(
        sliding_window_counts(stream, ts_col="ts"),
        tmp_path,
        "w11_stream",
        mode="complete",
    )
    want = (
        registry.REGISTRY["w11_sliding_window"].fn(spark, SF_CORRECT).toPandas()
    )
    got["win_start"] = got["win_start"].map(lambda t: int(t.timestamp()))
    m = want.merge(got, on=["win_start", "event_type"], suffixes=("_b", "_s"))
    assert len(m) == len(want) == len(got) > 0
    assert (m["n_b"] == m["n_s"]).all()
    # batch rounds sum_value to 2 digits in-query; round the raw
    # streaming sum the same way (stable_round semantics)
    s_rounded = np.floor(m["sum_value_s"] * 1e2 + 0.5) / 1e2
    np.testing.assert_allclose(m["sum_value_b"], s_rounded, rtol=0, atol=1e-9)


def test_streaming_tumbling_matches_batch(spark, events_drop, tmp_path):
    """Tumbling = the sliding helper with size == slide; batch twin is
    the plain floor(epoch/width) aggregation (w9's window id)."""
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        sliding_window_counts,
    )

    drop, schema = events_drop
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(drop / "*"))
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    got = _drain(
        sliding_window_counts(stream, ts_col="ts", size_s=1800, slide_s=1800),
        tmp_path,
        "w9_stream",
        mode="complete",
    )
    ev = load(spark, SF_CORRECT, "events")
    slot = F.floor(F.col("ts").cast("timestamp").cast("double") / 1800).cast("long")
    want = (
        ev.groupBy((slot * 1800).alias("win_start"), "event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .toPandas()
    )
    got["win_start"] = got["win_start"].map(lambda t: int(t.timestamp()))
    m = want.merge(got, on=["win_start", "event_type"], suffixes=("_b", "_s"))
    assert len(m) == len(want) == len(got) > 0
    assert (m["n_b"] == m["n_s"]).all()
    np.testing.assert_allclose(m["sum_value_b"], m["sum_value_s"], rtol=0, atol=1e-6)


def test_streaming_session_matches_batch_w10(spark, events_drop, tmp_path):
    """session_window with a 30-min gap vs the registered batch
    sessionizer (w10): same sessions per user — session start = first
    event, session end = last event + gap (Spark's end-exclusive
    horizon), same event counts."""
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        session_window_segments,
    )

    drop, schema = events_drop
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(drop / "*"))
        .select(
            F.col("user_id").cast("string").alias("video_id"),
            F.lit(0).alias("track_id"),
            F.col("value").alias("score"),
            F.col("ts").cast("timestamp").alias("event_time"),
        )
    )
    got = _drain(
        session_window_segments(
            stream, gap_s=1800.0, watermark_s=1.0, threshold=float("-inf")
        ),
        tmp_path,
        "w10_stream",
        mode="complete",
    )
    want = registry.REGISTRY["w10_sessionize"].fn(spark, SF_CORRECT).toPandas()
    got["user_id"] = got["video_id"].astype("int64")
    m = want.merge(
        got,
        left_on=["user_id", "start_ts"],
        right_on=["user_id", "start_time"],
        suffixes=("_b", "_s"),
    )
    assert len(m) == len(want) == len(got) > 0
    assert (m["n_events"] == m["n_frames"]).all()
    # Spark session end = last event + gap
    end_b = m["end_ts"].map(lambda t: t.timestamp()) + 1800.0
    end_s = m["end_time"].map(lambda t: t.timestamp())
    np.testing.assert_allclose(end_b, end_s, rtol=0, atol=1e-6)


def test_streaming_stateful_segments_match_batch(spark, tmp_path):
    """streaming/stateful.py vs the batch extract_segments operator on
    a scores frame DERIVED from the sf0.01 events table (per-user
    tracks, dense frame numbering by event order, score = value - 20
    so ~2/3 of frames speak and >=5-frame runs are plentiful),
    split across TWO micro-batch files so open runs must carry state.

    A trailing silent sentinel frame per track closes every run on
    both sides (the batch operator closes end-of-input runs implicitly;
    the streaming operator, correctly, keeps them open forever)."""
    import time

    from talknet_segmentation_batchprocessing_spark.operators.segmentation import (
        extract_segments,
    )
    from talknet_segmentation_batchprocessing_spark.streaming.stateful import (
        stateful_segments,
    )

    ev = load(spark, SF_CORRECT, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    scores = ev.select(
        F.col("user_id").cast("string").alias("video_id"),
        F.lit(0).alias("track_id"),
        (F.row_number().over(w) - 1).alias("frame_idx"),
        (F.col("value") - 20.0).alias("score"),
    )
    sentinel = (
        scores.groupBy("video_id", "track_id")
        .agg((F.max("frame_idx") + 1).alias("frame_idx"))
        .withColumn("score", F.lit(-1e9))
    )
    full = scores.unionByName(sentinel).select(
        "video_id", "track_id", F.col("frame_idx").cast("int").alias("frame_idx"),
        "score",
    )

    want = (
        extract_segments(full, threshold=0.0, min_duration_s=0.2)
        .select(
            "video_id",
            "track_id",
            "start_frame",
            "end_frame",
            (F.col("end_frame") - F.col("start_frame")).cast("int").alias("n_frames"),
        )
        .toPandas()
        .sort_values(["video_id", "start_frame"])
        .reset_index(drop=True)
    )

    drop = tmp_path / "scores"
    drop.mkdir()
    cut = 30  # ~67 frames per user: runs straddle the two files
    full.filter(F.col("frame_idx") < cut).coalesce(1).write.parquet(
        str(drop / "b0")
    )
    time.sleep(1.1)  # distinct mod times -> deterministic file order
    full.filter(F.col("frame_idx") >= cut).coalesce(1).write.parquet(
        str(drop / "b1")
    )
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    got = (
        _drain(
            stateful_segments(stream, threshold=0.0, min_duration_s=0.2),
            tmp_path,
            "w1_stateful_stream",
        )
        .sort_values(["video_id", "start_frame"])
        .reset_index(drop=True)
    )
    assert len(got) == len(want) > 0
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_incremental_dedup_matches_batch(spark, tmp_path):
    """streaming/pipeline.streaming_incremental_dedup (stream-static
    join against the corpus shingle index) must flag exactly the
    doc_ids the batch dedup_incremental query flags on the sf0.01
    documents table."""
    from talknet_segmentation_batchprocessing_spark.queries.extensions import (
        _INCR_CORPUS_LT,
        _INCR_SPLIT_MOD,
    )
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        corpus_shingle_index,
        streaming_incremental_dedup,
    )

    docs = load(spark, SF_CORRECT, "documents")
    in_corpus = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint") % _INCR_SPLIT_MOD < _INCR_CORPUS_LT
    )
    corpus = docs.filter(in_corpus)
    batch = docs.filter(~in_corpus).select(
        "doc_id", "text", F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("event_time")
    )

    drop = tmp_path / "docs"
    drop.mkdir()
    batch.coalesce(1).write.parquet(str(drop / "b0"))
    stream = spark.readStream.schema(batch.schema).parquet(str(drop / "*"))

    index = corpus_shingle_index(corpus).cache()
    got = _drain(
        streaming_incremental_dedup(stream, index),
        tmp_path,
        "incr_dedup_stream",
        mode="update",
    )
    index.unpersist()

    want = (
        registry.REGISTRY["dedup_incremental"].fn(spark, SF_CORRECT).toPandas()
    )
    want_dups = set(want[want["is_dup"]]["doc_id"])
    assert want_dups, "batch query found no dups — test is vacuous"
    assert set(got["doc_id"].unique()) == want_dups
    # pair-level sanity: jaccard respects the threshold on every row
    assert (got["jaccard"] >= 0.2).all()


def test_streaming_hll_registers_match_batch(spark, tmp_path):
    """streaming/pipeline.streaming_hll_registers across TWO
    micro-batches must converge to exactly the batch register table
    (register max is order- and batching-insensitive), and hence to
    the identical cardinality estimate."""
    import time

    from talknet_segmentation_batchprocessing_spark.queries.sketches import (
        _HLL_M,
        _SPARK_RHO,
        _lang_shingles,
        _tok_hash,
    )
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        streaming_hll_registers,
    )

    toks = _lang_shingles(spark, SF_CORRECT)  # lang, tok (distinct)
    want = (
        toks.select("lang", _tok_hash().alias("h"))
        .distinct()
        .groupBy(F.col("lang").alias("grp"), (F.col("h") % _HLL_M).alias("reg"))
        .agg(F.max(F.expr(_SPARK_RHO)).alias("rho"))
        .toPandas()
        .sort_values(["grp", "reg"])
        .reset_index(drop=True)
    )

    drop = tmp_path / "toks"
    drop.mkdir()
    split = F.length("tok") % 2 == 0
    toks.filter(split).coalesce(1).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    toks.filter(~split).coalesce(1).write.parquet(str(drop / "b1"))
    stream = (
        spark.readStream.schema(toks.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    got = (
        _drain(streaming_hll_registers(stream), tmp_path, "hll_stream", mode="update")
        # update mode re-emits a register row each time its max grows;
        # the LAST emission per (grp, reg) is the standing value — max
        # over emissions equals it (rho only ever grows)
        .groupby(["grp", "reg"], as_index=False)["rho"]
        .max()
        .sort_values(["grp", "reg"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_funnel_matches_batch_w12(spark, tmp_path):
    """streaming/funnel.streaming_funnel across two event-time-split
    micro-batches: the LATEST emitted row per user must equal the
    batch w12_funnel_steps row (stage + all three timestamps),
    including users whose stage advances across the batch boundary."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.funnel import (
        streaming_funnel,
    )

    ev = load(spark, SF_CORRECT, "events").select("user_id", "event_type", "ts")
    # split by time so funnels straddle the boundary
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(1).write.parquet(
        str(drop / "b0")
    )
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(1).write.parquet(
        str(drop / "b1")
    )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    got = _drain(streaming_funnel(stream), tmp_path, "funnel_stream")
    # latest emission per user = the row with the highest stage
    latest = (
        got.sort_values(["user_id", "stage"])
        .groupby("user_id", as_index=False)
        .last()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    want = (
        registry.REGISTRY["w12_funnel_steps"]
        .fn(spark, SF_CORRECT)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    assert len(latest) == len(want) > 0
    m = want.merge(latest, on="user_id", suffixes=("_b", "_s"))
    assert (m["stage_b"] == m["stage_s"]).all()
    for c in ("t1_us", "t2_us", "t3_us"):
        a, b = m[f"{c}_b"].astype("float64"), m[f"{c}_s"].astype("float64")
        assert ((a == b) | (a.isna() & b.isna())).all(), c
    # the cross-boundary case actually occurred (some user advanced in
    # batch 2): more emissions than users proves multi-batch advances
    assert len(got) > len(latest)


def _run_batches(stream_df, tmp_path, name, ckpt, mode="append"):
    """Start a query against whatever files exist NOW, drain, stop.
    Reusing ``ckpt`` across calls = a mid-stream RESTART: the second
    run must recover its state store, not reprocess old files. Sink is
    foreachBatch -> parquet (the memory sink is not fault-tolerant and
    refuses checkpoint recovery)."""
    import glob

    out = tmp_path / f"out_{name}"

    def _sink(df, _bid):
        if not df.isEmpty():
            df.write.mode("append").parquet(str(out))

    q = (
        stream_df.writeStream.foreachBatch(_sink)
        .outputMode(mode)
        .option("checkpointLocation", str(ckpt))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    if not glob.glob(str(out / "*.parquet")):
        return pd.DataFrame(columns=[f.name for f in stream_df.schema.fields])
    return stream_df.sparkSession.read.parquet(str(out)).toPandas()


def test_streaming_funnel_restart_recovers_state(spark, tmp_path):
    """VERDICT r4 Next #8: >= 3 micro-batches with a FULL QUERY RESTART
    between batch 2 and 3. A user whose view/click landed before the
    restart and whose purchase arrives after must be emitted at stage 3
    with t1/t2 recovered from the state store — and the post-restart
    run must not re-emit pre-restart rows (no reprocessing)."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.funnel import (
        streaming_funnel,
    )

    ev = load(spark, SF_CORRECT, "events").select("user_id", "event_type", "ts")
    cuts = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), array(0.34, 0.67)) p"
    ).collect()[0]["p"]
    tsd = F.col("ts").cast("timestamp").cast("double")
    drop = tmp_path / "ev"
    drop.mkdir()
    ckpt = tmp_path / "ckpt_restart"
    ev.filter(tsd <= cuts[0]).coalesce(1).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    ev.filter((tsd > cuts[0]) & (tsd <= cuts[1])).coalesce(1).write.parquet(
        str(drop / "b1")
    )

    def stream():
        s = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(drop / "*"))
        )
        return streaming_funnel(s)

    got1 = _run_batches(stream(), tmp_path, "funnel_r1", ckpt)
    assert len(got1) > 0

    # restart: third batch arrives while the query is DOWN
    time.sleep(1.1)
    ev.filter(tsd > cuts[1]).coalesce(1).write.parquet(str(drop / "b2"))
    got2 = _run_batches(stream(), tmp_path, "funnel_r2", ckpt)

    # no reprocessing: run 2 only emits users whose stage ADVANCED in
    # batch 3, so every (user, stage) pair it emits must be new
    seen1 = set(zip(got1["user_id"], got1["stage"]))
    assert len(got2) > 0
    assert not (set(zip(got2["user_id"], got2["stage"])) & seen1)

    both = pd.concat([got1, got2], ignore_index=True)
    latest = (
        both.sort_values(["user_id", "stage"])
        .groupby("user_id", as_index=False)
        .last()
    )
    want = (
        registry.REGISTRY["w12_funnel_steps"].fn(spark, SF_CORRECT).toPandas()
    )
    m = want.merge(latest, on="user_id", suffixes=("_b", "_s"))
    assert len(m) == len(want) == len(latest)
    assert (m["stage_b"] == m["stage_s"]).all()
    for c in ("t1_us", "t2_us", "t3_us"):
        a, b = m[f"{c}_b"].astype("float64"), m[f"{c}_s"].astype("float64")
        assert ((a == b) | (a.isna() & b.isna())).all(), c

    # the recovery actually crossed the restart: some user emitted in
    # run 2 carries a t1 from BEFORE the restart boundary (batches 1-2
    # ran pre-restart, so t1 <= cuts[1] can only come from recovered
    # state, not from batch-3 data)
    r2 = want.merge(got2, on="user_id", suffixes=("_b", "_s"))
    assert (r2["t1_us_s"].astype("float64") <= cuts[1] * 1e6 + 1).any()


def test_streaming_hll_restart_recovers_registers(spark, tmp_path):
    """HLL register table across 3 micro-batches with a restart before
    the last: recovered register maxima fold with the new batch to the
    exact batch register table."""
    import time

    from talknet_segmentation_batchprocessing_spark.queries.sketches import (
        _HLL_M,
        _SPARK_RHO,
        _lang_shingles,
        _tok_hash,
    )
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        streaming_hll_registers,
    )

    toks = _lang_shingles(spark, SF_CORRECT)
    want = (
        toks.select("lang", _tok_hash().alias("h"))
        .distinct()
        .groupBy(F.col("lang").alias("grp"), (F.col("h") % _HLL_M).alias("reg"))
        .agg(F.max(F.expr(_SPARK_RHO)).alias("rho"))
        .toPandas()
        .sort_values(["grp", "reg"])
        .reset_index(drop=True)
    )

    drop = tmp_path / "toks"
    drop.mkdir()
    ckpt = tmp_path / "ckpt_hll_restart"
    part = F.length("tok") % 3
    toks.filter(part == 0).coalesce(1).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    toks.filter(part == 1).coalesce(1).write.parquet(str(drop / "b1"))

    def stream():
        s = (
            spark.readStream.schema(toks.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(drop / "*"))
        )
        return streaming_hll_registers(s)

    got1 = _run_batches(stream(), tmp_path, "hll_r1", ckpt, mode="update")
    time.sleep(1.1)
    toks.filter(part == 2).coalesce(1).write.parquet(str(drop / "b2"))
    got2 = _run_batches(stream(), tmp_path, "hll_r2", ckpt, mode="update")
    assert len(got1) > 0 and len(got2) > 0

    got = (
        pd.concat([got1, got2], ignore_index=True)
        .groupby(["grp", "reg"], as_index=False)["rho"]
        .max()
        .sort_values(["grp", "reg"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_countmin_matches_batch(spark, tmp_path):
    """streaming/pipeline.streaming_countmin_cells across 2 batches +
    a mid-stream restart before a 3rd: the standing counter table
    (last emission per cell across runs) equals the batch cells of
    sketch_countmin_topk exactly — counter addition is batching- and
    restart-insensitive."""
    import time

    from talknet_segmentation_batchprocessing_spark.functions.shingles import (
        word_shingles,
    )
    from talknet_segmentation_batchprocessing_spark.queries.sketches import (
        _CM_D,
        _CM_W,
    )
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        streaming_countmin_cells,
    )

    docs = load(spark, SF_CORRECT, "documents")
    toks = (
        docs.select(F.split(F.lower("text"), " ").alias("w"))
        .filter(F.size("w") >= 3)
        .select(F.explode(word_shingles("w", 3)).alias("tok"))
    )
    cm_hash = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("i").cast("string"), F.lit(":"), F.col("tok"))),
                1, 12,
            ), 16, 10,
        ).cast("bigint") % _CM_W
    )
    rows = spark.range(0, _CM_D).select(F.col("id").alias("i"))
    want = (
        toks.crossJoin(rows)
        .select("i", cm_hash.alias("h"))
        .groupBy("i", "h")
        .agg(F.count("*").alias("c"))
        .toPandas()
        .sort_values(["i", "h"])
        .reset_index(drop=True)
    )

    drop = tmp_path / "toks"
    drop.mkdir()
    ckpt = tmp_path / "ckpt_cm"
    part = F.length("tok") % 3
    toks.filter(part == 0).coalesce(1).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    toks.filter(part == 1).coalesce(1).write.parquet(str(drop / "b1"))

    def stream():
        s = (
            spark.readStream.schema(toks.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(drop / "*"))
        )
        return streaming_countmin_cells(s)

    got1 = _run_batches(stream(), tmp_path, "cm_r1", ckpt, mode="update")
    time.sleep(1.1)
    toks.filter(part == 2).coalesce(1).write.parquet(str(drop / "b2"))
    got2 = _run_batches(stream(), tmp_path, "cm_r2", ckpt, mode="update")
    assert len(got1) > 0 and len(got2) > 0

    # update mode re-emits a cell whenever its counter grows; counters
    # only grow, so the LAST emission (= max) per cell is the standing
    # value. got2's emissions supersede got1's for cells it touched.
    both = pd.concat([got1, got2], ignore_index=True)
    got = (
        both.groupby(["i", "h"], as_index=False)["c"]
        .max()
        .sort_values(["i", "h"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_kmv_matches_batch(spark, tmp_path):
    """streaming/pipeline.streaming_kmv_minima across 2 batches + a
    restart before a 3rd: the standing (n_kept, hk) per language —
    max n_kept then min hk, since the sketch only improves — equals
    the batch k-minimum-values sketch exactly."""
    import time

    from talknet_segmentation_batchprocessing_spark.queries.sketches import (
        _KMV_K,
        _lang_shingles,
        _tok_hash,
    )
    from talknet_segmentation_batchprocessing_spark.streaming.pipeline import (
        streaming_kmv_minima,
    )

    toks = _lang_shingles(spark, SF_CORRECT)
    wk = Window.partitionBy("lang").orderBy("h")
    want = (
        toks.select("lang", _tok_hash().alias("h"))
        .distinct()
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _KMV_K)
        .groupBy(F.col("lang").alias("grp"))
        .agg(F.count("*").alias("n_kept"), F.max("h").alias("hk"))
        .toPandas()
        .sort_values("grp")
        .reset_index(drop=True)
    )

    drop = tmp_path / "toks"
    drop.mkdir()
    ckpt = tmp_path / "ckpt_kmv"
    part = F.length("tok") % 3
    toks.filter(part == 0).coalesce(1).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    toks.filter(part == 1).coalesce(1).write.parquet(str(drop / "b1"))

    def stream():
        s = (
            spark.readStream.schema(toks.schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(str(drop / "*"))
        )
        return streaming_kmv_minima(s)

    got1 = _run_batches(stream(), tmp_path, "kmv_r1", ckpt)
    time.sleep(1.1)
    toks.filter(part == 2).coalesce(1).write.parquet(str(drop / "b2"))
    got2 = _run_batches(stream(), tmp_path, "kmv_r2", ckpt)
    assert len(got1) > 0 and len(got2) > 0

    both = pd.concat([got1, got2], ignore_index=True)
    # standing sketch = the best emission: n_kept grows, then hk shrinks
    got = (
        both.sort_values(["grp", "n_kept", "hk"], ascending=[True, False, True])
        .groupby("grp", as_index=False)
        .first()
        .sort_values("grp")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_rate_limit_matches_batch_w17(spark, tmp_path):
    """streaming/throttle.streaming_rate_limit across two event-time-
    split micro-batches: per-user aggregation of the per-event verdicts
    must equal the batch w17_rate_limit report, including buckets that
    straddle the micro-batch boundary (the counter must persist)."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.throttle import (
        streaming_rate_limit,
    )

    ev = load(spark, SF_CORRECT, "events").select("user_id", "event_id", "ts")
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    got = _drain(streaming_rate_limit(stream), tmp_path, "throttle_stream")
    assert len(got) == ev.count()  # exactly one verdict per event
    agg = (
        got.groupby("user_id")
        .agg(
            n_events=("event_id", "size"),
            n_kept=("kept", "sum"),
        )
        .reset_index()
    )
    agg["n_dropped"] = agg["n_events"] - agg["n_kept"]
    want = (
        registry.REGISTRY["w17_rate_limit"]
        .fn(spark, SF_CORRECT)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    m = want.merge(agg, on="user_id", suffixes=("_b", "_s"))
    assert len(m) == len(want) > 0
    for c in ("n_events", "n_kept", "n_dropped"):
        assert (m[f"{c}_b"].astype("int64") == m[f"{c}_s"].astype("int64")).all(), c


def test_streaming_rate_limit_restart_recovers_counter(spark, tmp_path):
    """A full query restart between micro-batches must recover the
    (bucket, count) state: a user whose bucket fills before the
    restart keeps dropping after it; every verdict equals the batch
    rank recomputed over the union of both batches."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.throttle import (
        BUCKET_US,
        RATE_N,
        streaming_rate_limit,
    )

    ev = load(spark, SF_CORRECT, "events").select("user_id", "event_id", "ts")
    # cut INSIDE the densest (user, bucket) so that bucket's counter
    # must survive the restart: midpoint between its first and last
    # event, in seconds (the filter below compares double seconds)
    dense = (
        ev.select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("us"),
        )
        .groupBy("user_id", (F.col("us") / F.lit(BUCKET_US)).cast("long").alias("b"))
        .agg(F.count("*").alias("n"), F.min("us").alias("mn"), F.max("us").alias("mx"))
        .filter(F.col("n") >= 2)
        .orderBy(F.desc("n"), "user_id")
        .first()
    )
    assert dense is not None, "fixture has no multi-event bucket"
    cut = (dense["mn"] + dense["mx"]) / 2 / 1e6
    drop = tmp_path / "ev"
    drop.mkdir()
    ckpt = tmp_path / "ckpt_throttle_restart"
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))

    def _stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop / "*"))
        )

    got1 = _run_batches(
        streaming_rate_limit(_stream()), tmp_path, "thr_r", ckpt
    )
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    got = _run_batches(streaming_rate_limit(_stream()), tmp_path, "thr_r", ckpt)
    assert len(got) == ev.count()
    assert len(got1) < len(got)  # the second run only processed NEW files
    # expected per-event verdicts: batch rank over the full table
    full = ev.toPandas()
    full["us"] = full["ts"].astype("int64") // 1000  # ns -> us
    full["bucket"] = full["us"] // BUCKET_US
    full = full.sort_values(["user_id", "us", "event_id"])
    full["rn"] = full.groupby(["user_id", "bucket"]).cumcount() + 1
    full["kept"] = full["rn"] <= RATE_N
    m = full.merge(got, on=["user_id", "event_id"], suffixes=("_b", "_s"))
    assert len(m) == len(full)
    assert (m["bucket_b"] == m["bucket_s"]).all()
    assert (m["rn_b"].astype("int64") == m["rn_s"].astype("int64")).all()
    assert (m["kept_b"] == m["kept_s"]).all()
    # the straddle case occurred: some (user, bucket) spans both runs
    first_ids = set(got1["event_id"])
    spans = full[full["event_id"].isin(first_ids)].merge(
        full[~full["event_id"].isin(first_ids)], on=["user_id", "bucket"]
    )
    assert len(spans) > 0


def test_streaming_forward_fill_matches_batch_w19(spark, tmp_path):
    """streaming/smooth.streaming_forward_fill across two event-time-
    split micro-batches: every per-event row equals the batch
    w19_forward_fill row, including fills whose last observation landed
    in the previous micro-batch (the carried value must persist)."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.smooth import (
        streaming_forward_fill,
    )

    ev = load(spark, SF_CORRECT, "events").select("user_id", "event_id", "ts", "value")
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    got = _drain(streaming_forward_fill(stream), tmp_path, "ffill_stream")
    want = (
        registry.REGISTRY["w19_forward_fill"].fn(spark, SF_CORRECT).toPandas()
    )
    assert len(got) == len(want) > 0
    m = want.merge(got, on=["user_id", "event_id"], suffixes=("_b", "_s"))
    assert len(m) == len(want)
    for c in ("value_raw", "value_filled"):
        a, b = m[f"{c}_b"].astype("float64"), m[f"{c}_s"].astype("float64")
        assert ((a == b) | (a.isna() & b.isna())).all(), c
    assert (m["was_filled_b"] == m["was_filled_s"]).all()


def test_streaming_ema_matches_batch_w18(spark, tmp_path):
    """streaming/smooth.streaming_ema_decay: per-event EMA equals the
    batch w18_ema_decay bit-for-bit after the same 1e-6 grid rounding —
    including rows whose 8-value window straddles the micro-batch
    boundary (the ring state must persist)."""
    import time

    import numpy as np

    from talknet_segmentation_batchprocessing_spark.streaming.smooth import (
        streaming_ema_decay,
    )

    ev = load(spark, SF_CORRECT, "events").select("user_id", "event_id", "ts", "value")
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    got = _drain(streaming_ema_decay(stream), tmp_path, "ema_stream")
    got["ema"] = np.floor(got["ema"] * 1e6 + 0.5) / 1e6  # the batch grid
    want = registry.REGISTRY["w18_ema_decay"].fn(spark, SF_CORRECT).toPandas()
    assert len(got) == len(want) > 0
    m = want.merge(got, on=["user_id", "event_id"], suffixes=("_b", "_s"))
    assert len(m) == len(want)
    assert (m["n_in_window_b"].astype("int64") == m["n_in_window_s"].astype("int64")).all()
    assert (m["ema_b"] == m["ema_s"]).all()
    # the straddle case occurred: some user has rows in both batches
    # with a full window (n=8) after the boundary
    assert (m["n_in_window_b"] == 8).any()


def test_streaming_transitions_match_batch_w22(spark, tmp_path):
    """streaming/transitions across two event-time-split micro-batches:
    groupBy(src, dst).count() of all emissions equals the batch
    w22_markov_transitions pair counts — including the pairs that
    straddle the batch boundary (the remembered predecessor)."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.transitions import (
        streaming_transitions,
    )

    ev = load(spark, SF_CORRECT, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    got = _drain(streaming_transitions(stream), tmp_path, "trans_stream")
    assert len(got) > 0
    rolled = (
        got.groupby(["src", "dst"])
        .size()
        .reset_index(name="n_transitions")
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    want = (
        registry.REGISTRY["w22_markov_transitions"]
        .fn(spark, SF_CORRECT)
        .toPandas()[["src", "dst", "n_transitions"]]
        .sort_values(["src", "dst"])
        .reset_index(drop=True)
    )
    m = want.merge(rolled, on=["src", "dst"], suffixes=("_b", "_s"), how="outer")
    assert not m.isna().any().any(), "pair sets must match exactly"
    assert (m["n_transitions_b"] == m["n_transitions_s"]).all()
    # the boundary case occurred: at least one user's first batch-2
    # event paired with a predecessor remembered from batch 1
    cut_us = int(cut * 1e6)
    assert (got["dst_us"] > cut_us).any() and (got["dst_us"] <= cut_us).any()


def test_streaming_semantic_flag_matches_batch(spark, tmp_path):
    """streaming/semantic.py: the live SemDeDup flagger (stream-static
    LSH bucket join + exact-fold cosine verify) must emit exactly the
    pairs the SAME mode-agnostic pipeline emits in batch on the sf0.01
    embeddings, and every emitted cosine must clear the threshold when
    recomputed independently with the sequential fold."""
    import numpy as np

    from talknet_segmentation_batchprocessing_spark.streaming.semantic import (
        corpus_lsh_index,
        streaming_semantic_flag,
    )

    emb = load(spark, SF_CORRECT, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    in_corpus = (
        F.conv(F.substring(F.md5(F.col("vec_id").cast("string")), 1, 12), 16, 10)
        .cast("bigint") % 10 < 8
    )
    corpus = emb.filter(in_corpus)
    arriving = emb.filter(~in_corpus).select(
        "vec_id",
        "v",
        F.to_timestamp(F.lit("2026-01-01 00:00:00")).alias("event_time"),
    )
    n = corpus.count()
    m = (n + 255) // 256
    bits = max(4, min(12, (m - 1).bit_length() if m > 1 else 1))
    index = corpus_lsh_index(corpus, bands=4, bits=bits).cache()

    # ground truth: the SAME function on the batch frame
    want = (
        streaming_semantic_flag(arriving, index, bands=4, bits=bits)
        .toPandas()
        .sort_values(["vec_id", "corpus_id"])
        .reset_index(drop=True)
    )

    drop = tmp_path / "vecs"
    drop.mkdir()
    arriving.coalesce(1).write.parquet(str(drop / "b0"))
    stream = spark.readStream.schema(arriving.schema).parquet(str(drop / "*"))
    got = (
        _drain(
            streaming_semantic_flag(stream, index, bands=4, bits=bits),
            tmp_path,
            "semantic_flag_stream",
            mode="update",
        )
        .sort_values(["vec_id", "corpus_id"])
        .reset_index(drop=True)
    )
    index.unpersist()

    assert len(want) > 0, "batch twin flagged nothing — test is vacuous"
    assert got[["vec_id", "corpus_id"]].values.tolist() == want[
        ["vec_id", "corpus_id"]
    ].values.tolist()
    np.testing.assert_array_equal(
        got["cos_sim"].to_numpy(), want["cos_sim"].to_numpy()
    )

    # independent verify: every flagged pair clears the threshold under
    # the strict sequential fold
    vecs = {r["vec_id"]: np.array(r["v"]) for r in emb.collect()}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    for row in got.itertuples(index=False):
        a, b = vecs[row.vec_id], vecs[row.corpus_id]
        na = np.sqrt(fold_dot(a, a))
        nb = np.sqrt(fold_dot(b, b))
        assert fold_dot(a, b) / (na * nb) > 0.45


def test_streaming_scd2_matches_batch_u7(spark, tmp_path):
    """streaming/scd2 across two event-time-split micro-batches: the
    emitted CLOSED validity intervals equal the batch u7_scd2_history
    rows with is_current = false — including intervals that straddle
    the batch boundary (opened in batch 1, closed by a batch-2
    attribute change)."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.scd2 import (
        streaming_scd2,
    )

    ev = load(spark, SF_CORRECT, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    cols = ["user_id", "version", "event_type", "valid_from_us",
            "valid_to_us", "n_events"]
    got = (
        _drain(streaming_scd2(stream), tmp_path, "scd2_stream")[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    assert len(got) > 0
    want = (
        registry.REGISTRY["u7_scd2_history"]
        .fn(spark, SF_CORRECT)
        .filter("NOT is_current")
        .select(
            "user_id",
            "version",
            "event_type",
            F.unix_micros(F.col("valid_from").cast("timestamp")).alias(
                "valid_from_us"
            ),
            F.unix_micros(F.col("valid_to").cast("timestamp")).alias(
                "valid_to_us"
            ),
            "n_events",
        )
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the boundary case occurred: some interval opened at or before the
    # cut was closed by a batch-2 event
    cut_us = int(cut * 1e6)
    assert ((got["valid_from_us"] <= cut_us) & (got["valid_to_us"] > cut_us)).any()


def test_streaming_scd2_restart_recovers_open_interval(spark, tmp_path):
    """A full query restart between micro-batches must recover each
    user's OPEN interval: an interval opened before the restart and
    closed after it must emit with its pre-restart valid_from and the
    event count spanning both runs; the union of emissions equals the
    batch closed-interval rows."""
    import time

    from talknet_segmentation_batchprocessing_spark.streaming.scd2 import (
        streaming_scd2,
    )

    ev = load(spark, SF_CORRECT, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ckpt = tmp_path / "ckpt_scd2_restart"
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))

    def _stream():
        return (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(drop / "*"))
        )

    got1 = _run_batches(streaming_scd2(_stream()), tmp_path, "scd2_r", ckpt)
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    got = _run_batches(streaming_scd2(_stream()), tmp_path, "scd2_r", ckpt)
    cols = ["user_id", "version", "event_type", "valid_from_us",
            "valid_to_us", "n_events"]
    got = got[cols].sort_values(cols).reset_index(drop=True)
    want = (
        registry.REGISTRY["u7_scd2_history"]
        .fn(spark, SF_CORRECT)
        .filter("NOT is_current")
        .select(
            "user_id",
            "version",
            "event_type",
            F.unix_micros(F.col("valid_from").cast("timestamp")).alias(
                "valid_from_us"
            ),
            F.unix_micros(F.col("valid_to").cast("timestamp")).alias(
                "valid_to_us"
            ),
            "n_events",
        )
        .toPandas()[cols]
        .sort_values(cols)
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the recovery case occurred: an interval opened at or before the
    # cut closed only in the second run (absent from got1's emissions)
    cut_us = int(cut * 1e6)
    straddle = got[
        (got["valid_from_us"] <= cut_us) & (got["valid_to_us"] > cut_us)
    ]
    assert len(straddle) > 0
    assert len(got1) < len(got)


def test_streaming_scd2_table_converges_to_batch_u7(spark, tmp_path):
    """The complete streaming dimension-maintenance path: the SCD2
    changelog (closed intervals + per-batch open-row upserts) merged
    into a versioned parquet table keyed (user_id, version) must leave
    the table EXACTLY equal to the batch u7_scd2_history output —
    closed rows immutable, each user's final open row the is_current
    row, intermediate open rows overwritten by their closing rows."""
    import time

    from talknet_segmentation_batchprocessing_spark.sources.upsert import (
        init_table,
        read_table,
    )
    from talknet_segmentation_batchprocessing_spark.streaming.scd2 import (
        OPEN_SENTINEL,
        scd2_merge_sink,
        streaming_scd2_changelog,
    )

    ev = load(spark, SF_CORRECT, "events").select(
        "user_id", "event_id", "event_type", "ts"
    )
    cut = ev.selectExpr(
        "percentile(cast(cast(ts as timestamp) as double), 0.5) p"
    ).collect()[0]["p"]
    drop = tmp_path / "ev"
    drop.mkdir()
    ev.filter(F.col("ts").cast("timestamp").cast("double") <= cut).coalesce(
        1
    ).write.parquet(str(drop / "b0"))
    time.sleep(1.1)
    ev.filter(F.col("ts").cast("timestamp").cast("double") > cut).coalesce(
        1
    ).write.parquet(str(drop / "b1"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(drop / "*"))
    )
    table = str(tmp_path / "dim_table")
    empty = spark.createDataFrame(
        [],
        "user_id long, version long, event_type string, "
        "valid_from_us long, valid_to_us long, n_events long, "
        "uid_ver string",
    )
    init_table(empty, table)
    q = scd2_merge_sink(
        streaming_scd2_changelog(stream), table, str(tmp_path / "ckpt_dim")
    )
    q.awaitTermination(300)

    cols = ["user_id", "version", "event_type", "valid_from_us",
            "valid_to_us", "n_events", "is_current"]
    got = (
        read_table(spark, table)
        .select(
            "user_id",
            "version",
            "event_type",
            "valid_from_us",
            F.when(
                F.col("valid_to_us") == OPEN_SENTINEL, F.lit(None)
            ).otherwise(F.col("valid_to_us")).alias("valid_to_us"),
            "n_events",
            (F.col("valid_to_us") == OPEN_SENTINEL).alias("is_current"),
        )
        .toPandas()[cols]
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    want = (
        registry.REGISTRY["u7_scd2_history"]
        .fn(spark, SF_CORRECT)
        .select(
            "user_id",
            "version",
            "event_type",
            F.unix_micros(F.col("valid_from").cast("timestamp")).alias(
                "valid_from_us"
            ),
            F.unix_micros(F.col("valid_to").cast("timestamp")).alias(
                "valid_to_us"
            ),
            "n_events",
            "is_current",
        )
        .toPandas()[cols]
        .sort_values(["user_id", "version"])
        .reset_index(drop=True)
    )
    got["valid_to_us"] = got["valid_to_us"].astype("float64")
    want["valid_to_us"] = want["valid_to_us"].astype("float64")
    pd.testing.assert_frame_equal(got, want)
    # the overwrite case occurred: at least one version closed in batch
    # 2 had been written as an open row by batch 1 (its valid_from is at
    # or before the cut, its valid_to after)
    cut_us = int(cut * 1e6)
    closed = got[~got["is_current"]]
    assert (
        (closed["valid_from_us"] <= cut_us)
        & (closed["valid_to_us"] > cut_us)
    ).any()
