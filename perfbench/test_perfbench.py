"""The benchmark's own tests: input determinism, self-time arithmetic and
the metric names in BENCHMARK.json.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import corpus  # noqa: E402
import run  # noqa: E402
import tables  # noqa: E402
from spans import Span, Tracer, covered, self_times  # noqa: E402


def _corpus_bytes(tmp_path, name, seed):
    paths = corpus.write_corpus(str(tmp_path / name), seed, n_videos=2, n_frames=12)
    return [open(p, "rb").read() for p in paths]


def test_corpus_is_a_function_of_the_seed(tmp_path):
    a = _corpus_bytes(tmp_path, "a", 7)
    b = _corpus_bytes(tmp_path, "b", 7)
    c = _corpus_bytes(tmp_path, "c", 8)
    assert a == b
    assert a != c


def test_corpus_frames_stay_non_square(tmp_path):
    from talknet_segmentation_batchprocessing_spark.sources.riff import read_avi

    (blob,) = [
        open(p, "rb").read()
        for p in corpus.write_corpus(str(tmp_path / "v"), 3, n_videos=1, n_frames=12)
    ]
    frames, fps, samples, sr = read_avi(blob)
    assert len(frames) == 12
    assert frames[0].shape == (corpus.HEIGHT, corpus.WIDTH) == (64, 96)
    assert fps == corpus.FPS and sr == corpus.SAMPLE_RATE
    assert len(samples) == int(corpus.SAMPLE_RATE * 12 / corpus.FPS)


def test_tables_are_a_function_of_the_seed():
    a = tables.build_tables(0.001, 42)
    b = tables.build_tables(0.001, 42)
    c = tables.build_tables(0.001, 43)
    assert set(a) == set(tables.TABLES)
    assert all(a[t].equals(b[t]) for t in tables.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])


def test_self_time_subtracts_covered_child_time():
    spans = [
        Span("root", 0.0, 10.0, None, "r"),
        Span("a", 1.0, 4.0, 0, "r"),
        Span("b", 3.0, 6.0, 0, "r"),  # overlaps a: union is [1, 6]
        Span("a1", 2.0, 3.0, 1, "r"),
        Span("late", 9.0, 12.0, 0, "r"),  # runs past its parent: clipped
    ]
    assert self_times(spans) == pytest.approx([10 - 5 - 1, 3 - 1, 3, 1, 3])


def test_covered_merges_and_clips():
    assert covered([], 0, 5) == 0
    assert covered([(1, 2), (1.5, 3), (4, 9)], 0, 5) == pytest.approx(3.0)


def test_tracer_nesting_and_disabled_tracer():
    t = Tracer("run")
    with t.span("outer"):
        assert t.current() == "outer"
        with t.span("inner"):
            assert t.current() == "inner"
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.current() is None
    off = Tracer("run", enabled=False)
    with off.span("x"):
        pass
    assert off.spans == []


def test_tail_percentile_keeps_ten_samples_beyond():
    assert run.quantile_with_ten_beyond(list(range(10))) == (None, None)
    pct, v = run.quantile_with_ten_beyond([float(i) for i in range(100)])
    assert (pct, v) == (90.0, 89.0)
    assert sum(x > v for x in range(100)) == 10


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    setup = [m for m in spec["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_segment_reference_matches_run_rules():
    import pandas as pd

    import asd

    score = [-0.5, -0.5, -0.5, -1.0, -0.5, -0.5, -0.5, -0.5, -0.9, -0.5]
    df = pd.DataFrame(
        {"video_id": "v", "track_id": 0, "frame_idx": np.arange(10), "score": score}
    )
    # runs [0,3) and [4,8); the single frame at 9 is shorter than 3 frames
    assert asd.reference_segments(df, -0.75, 3) == [("v", 0, 0, 0, 3), ("v", 0, 1, 4, 8)]


def test_digest_history_pins_the_first_digest_of_a_seed(tmp_path):
    import asd

    path = str(tmp_path / "digests.json")
    assert asd.check_digest_history(path, 1, "aaa") is None
    assert asd.check_digest_history(path, 2, "bbb") is None
    assert asd.check_digest_history(path, 1, "aaa") is None
    assert "differs" in asd.check_digest_history(path, 1, "ccc")
    assert json.load(open(path)) == {"1": "aaa", "2": "bbb"}
