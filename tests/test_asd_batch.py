"""The batch entry against the benchmark's hand-wired chain
(``perfbench/asd.py:run_pipeline``): same seeded MJPEG corpus, same
plug-ins and parameters, equal scores and segments row for row."""

from __future__ import annotations

import hashlib
import io
import json
import os
from pathlib import Path

import numpy as np
from pyspark import cloudpickle

PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def test_entry_matches_perfbench_wiring(spark, tmp_path, monkeypatch):
    monkeypatch.syspath_prepend(str(PERFBENCH))
    import asd
    import corpus
    import spans

    # Python workers cannot import perfbench/: ship its plug-ins by value,
    # as perfbench/run.py does
    for mod in (asd, corpus, spans):
        cloudpickle.register_pickle_by_value(mod)
    try:
        _pin(spark, tmp_path, asd, corpus, spans)
    finally:
        for mod in (asd, corpus, spans):
            cloudpickle.unregister_pickle_by_value(mod)


def _pin(spark, tmp_path, asd, corpus, spans):
    from talknet_segmentation_batchprocessing_spark.asd_batch import run_asd_batch
    from talknet_segmentation_batchprocessing_spark.operators import s3fd_net
    from talknet_segmentation_batchprocessing_spark.operators.inference import (
        broadcast_weights,
    )

    corpus_dir = str(tmp_path / "corpus")
    corpus.write_corpus(corpus_dir, 305, 1, 6)
    buf = io.BytesIO()
    np.savez(buf, **s3fd_net.init_weights(asd.DETECTOR_SEED))
    bc = broadcast_weights(spark, buf.getvalue())
    plug, ref, out = asd.Plugins(), tmp_path / "perfbench", tmp_path / "entry"
    asd.run_pipeline(spark, corpus_dir, str(ref), bc, plug, spans.Tracer("pin", enabled=False))
    check = asd.check_outputs(str(ref))
    assert check["problems"] == [] and check["segments"] > 0
    summary = json.loads((ref / "summary.json").read_text())

    scores, segments = run_asd_batch(
        spark, corpus_dir, str(out), decoder=plug.decoder, detector_bc=bc,
        detector_builder=plug.detector, scorer_builder=plug.scorer,
        conf_th=0.995, min_track=5, threshold=summary["threshold"], min_duration_s=0.04,
    )

    def rows(df, *cols):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    score_cols = ("video_id", "track_id", "frame_idx", "score")
    assert rows(scores, *score_cols) == rows(spark.read.parquet(str(ref / "scores")), *score_cols)
    seg_cols = ("video_id", "track_id", "seg_id", "start_frame", "end_frame")
    got = rows(segments, *seg_cols)
    assert got == rows(spark.read.parquet(str(ref / "segments")), *seg_cols)
    assert hashlib.sha256(repr(got).encode()).hexdigest()[:16] == check["digest"]
    assert sorted(os.listdir(out / "manifests")) == sorted(os.listdir(ref / "manifests"))
    assert len((out / "summary.txt").read_text().splitlines()) == len(summary["rows"])
