"""bench.py coverage rule (round-9 verdict ask #7): the headline set
is derived registry-minus-exclusions, so every new round's debuts are
benched by default — these guards keep that property true."""

from __future__ import annotations

import importlib.util
import os

from talknet_segmentation_batchprocessing_spark import registry


def _bench():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench_under_test", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_headline_is_registry_minus_exclusions():
    bench = _bench()
    registry._ensure_loaded()
    names = set(registry.REGISTRY)
    headline = bench._headline()
    assert set(headline) | set(bench.BENCH_EXCLUDED) == names
    assert not (set(headline) & set(bench.BENCH_EXCLUDED))
    # order is deterministic (registry insertion order)
    assert headline == [n for n in registry.REGISTRY if n not in bench.BENCH_EXCLUDED]


def test_excluded_names_all_exist():
    """A renamed or deleted query must not leave a stale exclusion
    that would silently re-admit nothing / mask a typo for a new one."""
    bench = _bench()
    registry._ensure_loaded()
    missing = set(bench.BENCH_EXCLUDED) - set(registry.REGISTRY)
    assert not missing


def test_exclusions_are_measured_and_sub_bar():
    """Measured-not-argued (round-10): every exclusion carries a
    recorded sf0.1 measurement in calib units, and every recorded
    value is under the bar — an entry added without measuring (or a
    query that grew past the bar on re-measure) fails here."""
    bench = _bench()
    assert isinstance(bench.BENCH_EXCLUDED, dict)
    for name, units in bench.BENCH_EXCLUDED.items():
        assert isinstance(units, float), f"{name}: no recorded measurement"
        assert 0 < units < bench._EXCLUDE_MAX_CALIB_UNITS, (
            f"{name} measured {units} calib units — over the bar, promote it"
        )


def test_flagships_never_excluded():
    bench = _bench()
    for name in (
        "w1_speaking_segments",
        "q1_pricing_summary",
        "mix_doremi_weights",
        "sim_ivf_disk_topk",
        "classifier_decile_lift",
        "classifier_auc_eval",
        # promoted by the round-10 measured sweep: were excluded under
        # the old "<100ms" rationale while measuring seconds of plan
        # work — must never slip back out of the headline set
        "quality_ensemble_vote",
        "curation_dsir_vs_rules",
        "dedup_cc_clusters",
        "dedup_cc_labelprop",
        "w6_nms_greedy",
        "agg_salted_hot_keys",
        "sim_ivf_drift_audit",
    ):
        assert name not in bench.BENCH_EXCLUDED


def test_resolve_only_rejects_excluded_and_unknown_names():
    """--only probes must fail loudly, never silently measure less
    than requested: an unknown name and an excluded name both assert
    (the excluded case used to pass the registry check and then be
    silently dropped by the headline filter — ADVICE r11)."""
    import pytest

    bench = _bench()
    registry._ensure_loaded()
    headline = bench._headline()

    got = bench._resolve_only(["w1_speaking_segments"], headline)
    assert got == ["w1_speaking_segments"]

    with pytest.raises(AssertionError, match="unknown"):
        bench._resolve_only(["no_such_query"], headline)

    if bench.BENCH_EXCLUDED:
        some_excluded = sorted(bench.BENCH_EXCLUDED)[0]
        with pytest.raises(AssertionError, match="BENCH_EXCLUDED"):
            bench._resolve_only(
                ["w1_speaking_segments", some_excluded], headline
            )


def test_vs_prev_baseline_matches_core_count(tmp_path):
    """The normalization baseline is the newest record at the SAME core
    count: the 8-core record sorts first but must not serve a 32-core
    run."""
    import json

    bench = _bench()
    line = {"calib_sec": 0.4, "queries": {"q": 1.0}, "sf": 0.1}
    for name, cpus in (
        ("BENCH_r12.json", 32),
        ("BENCH_r13.json", 32),
        ("BENCH_r13_c8.json", 8),
    ):
        (tmp_path / name).write_text(json.dumps({"cpus": cpus, "parsed": line}))
    assert bench._prev_record(str(tmp_path), 0.1, 32)[0] == "BENCH_r13.json"
    assert bench._prev_record(str(tmp_path), 0.1, 8)[0] == "BENCH_r13_c8.json"
    assert bench._prev_record(str(tmp_path), 0.1, 4) is None
    assert bench._prev_record(str(tmp_path), 1.0, 32) is None
