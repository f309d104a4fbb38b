#!/usr/bin/env python
"""Benchmark the engine's headline queries.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced with the noop sink (full execution, no driver
collect) — the number is end-to-end plan time including scan, shuffle,
and any pandas-UDF stages.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

from talknet_segmentation_batchprocessing_spark import registry
from talknet_segmentation_batchprocessing_spark.session import get_spark

# Headline set: auto-derived from the registry so every new round's
# debuts are benched by DEFAULT — a query only escapes the bench by
# being named in BENCH_EXCLUDED below with a RECORDED measurement.
#
# Exclusion rule — measured, not argued: a query may be excluded only
# with a recorded sf0.1 wall time under _EXCLUDE_MAX_CALIB_UNITS
# calibration units (wall_sec / calib_sec, host-normalized; 1 unit is
# ~0.46-0.57 s across observed round hosts — i.e. the measurement is
# dominated by session fixed cost, not plan work). Benching those
# measures the harness, not the engine. Each entry records its units
# from a min-of-2 sweep of every excluded query at sf0.1 (2026-08-16,
# calib_sec 0.569, /tmp/excluded_timings.json protocol identical to
# this file's). The same sweep PROMOTED the 24 queries that were over
# the bar into the headline set — quality_ensemble_vote (6.0 units),
# curation_dsir_vs_rules (7.4), dedup_cc_clusters/_labelprop,
# w6_nms_greedy, agg_salted_hot_keys, a3_counts, ... — closing the
# round-9 finding that the list contradicted its own documented rule.
# The assert in _headline() keeps the discipline: no name stays
# excluded without a sub-bar measurement, so adding one means
# measuring first.
_EXCLUDE_MAX_CALIB_UNITS = 1.0
BENCH_EXCLUDED = {  # name -> measured sf0.1 wall, in calib units
    # j2_tolerance_check and x19_json_field_stats were promoted OUT of
    # this list in round 13: the round-12 record run measured them over
    # the bar on the driver host (1.058 / 1.485 units, BENCH_r12.json)
    # and the near-bar recheck failed that run by design. They are
    # headline queries now.
    "m2_scene_change_islands": 0.95,
    "f4_having_greatest_avg": 0.95,
    "ext_cube": 0.93,
    "w2_centered_smoothing": 0.93,
    "ext_pivot": 0.86,
    "ext_semi_anti_join": 0.82,
    "mix_domain_weights": 0.82,
    "a1_ensemble_round_avg": 0.80,
    "text_token_fertility": 0.79,
    "ext_grouping_sets": 0.77,
    "text_vocab_topk": 0.76,
    "j3_surrogate_equijoin": 0.76,
    "w5_top1_per_group": 0.76,
    "x15_softmax_argmax": 0.71,
    "doc_length_histogram": 0.70,
    "w9_tumbling_clips": 0.67,
    "ext_unpivot": 0.65,
    "emb_quantize_int8": 0.64,
    "x2_box_center_size": 0.63,
    "u6_intersect": 0.62,
    "u3_except": 0.59,
    "x11_json_parse": 0.59,
    "sample_stratified": 0.58,
    "f2_arithmetic_filter": 0.56,
    "dedup_exact": 0.54,
    "a8_distinct": 0.54,
    "x6_av_length_align": 0.54,
    "f3_having_count": 0.53,
    "sample_weighted_reservoir": 0.49,
    "u4_explode_duration_set": 0.48,
    "text_token_count": 0.47,
    "text_fingerprint": 0.46,
    "f1_confidence_filter": 0.45,
    "text_normalize": 0.43,
    "x17_timecode": 0.43,
    "u1_union_all": 0.41,
    "f10_least_cap": 0.40,
    "a9_energy_db": 0.39,
    "f7_isin_filter": 0.37,
    "w8_global_sort_limit": 0.36,
    "f9_ordered_limit": 0.36,
    "f8_range_filter": 0.34,
    "x20_variant_json": 0.33,
    "f11_project_rename": 0.31,
    "x7_wrap_pad_array": 0.30,
    "x10_frame_seconds": 0.28,
    "multimodal_binary_meta": 0.26,
    "x12_uid_concat": 0.26,
    "x13_string_parsing": 0.24,
}


def _headline() -> list[str]:
    registry._ensure_loaded()
    missing = set(BENCH_EXCLUDED) - set(registry.REGISTRY)
    assert not missing, f"BENCH_EXCLUDED names unknown queries: {missing}"
    over = {
        n: u for n, u in BENCH_EXCLUDED.items() if u >= _EXCLUDE_MAX_CALIB_UNITS
    }
    assert not over, (
        f"excluded queries measured OVER the bar — promote them: {over}"
    )
    return [n for n in registry.REGISTRY if n not in BENCH_EXCLUDED]


def _resolve_only(only_names: list[str], headline: list[str]) -> list[str]:
    """Validate a --only probe list against the registry AND the
    headline set. Naming an excluded query must fail loudly: silently
    filtering it out would report fewer queries than requested with no
    hint which name measured nothing — the same silent-omission class
    the near-bar recheck exists to eliminate."""
    unknown = set(only_names) - set(registry.REGISTRY)
    assert not unknown, f"--only names unknown queries: {sorted(unknown)}"
    excluded_hit = set(only_names) & set(BENCH_EXCLUDED)
    assert not excluded_hit, (
        f"--only names BENCH_EXCLUDED queries: {sorted(excluded_hit)} — "
        "they are not in the headline set; probe them by temporarily "
        "removing the exclusion, or rely on the automatic near-bar "
        "recheck which re-measures every excluded query each run"
    )
    return [n for n in headline if n in set(only_names)]


def _argval(flag: str, default: str | None = None) -> str | None:
    if flag in sys.argv:
        i = sys.argv.index(flag)
        # a trailing flag or one followed by another --flag has no
        # value: fall through to the default rather than returning
        # None (int(None)) or consuming the next flag as a value
        if i + 1 < len(sys.argv) and not sys.argv[i + 1].startswith("--"):
            return sys.argv[i + 1]
    return default


def _prev_record(here: str, sf: float, cpus: int) -> tuple[str, dict] | None:
    """(file name, bench line) of the most recent BENCH_r*.json run at
    ``cpus`` cores and scale ``sf`` that carries a calib_sec, or None.
    Records at another core count never serve as the baseline."""
    import glob

    for p in sorted(glob.glob(os.path.join(here, "BENCH_r*.json")), reverse=True):
        try:
            with open(p) as f:
                rec = json.load(f)
        except (OSError, ValueError):
            continue
        # round records wrap our JSON line under "parsed" and
        # carry the core count beside it
        prev = rec["parsed"] if isinstance(rec.get("parsed"), dict) else rec
        if prev.get("cpus", rec.get("cpus")) != cpus:
            continue
        if prev.get("calib_sec") and prev.get("queries") and prev.get("sf") == sf:
            return os.path.basename(p), prev
    return None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)/?$", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    # --passes N (default 2), --only a,b,c (subset for A/B probes),
    # --out detail.json (alternate detail path so probe runs don't
    # clobber the round record). The protocol is RECORDED in the
    # output (n_passes) because round 10's silent 3->2 pass change
    # confounded the round-over-round number (VERDICT r10).
    n_passes = int(_argval("--passes", "2"))
    only = _argval("--only")
    only_names = only.split(",") if only else None

    spark = get_spark(app_name="talknet-segmentation-bench")
    cpus = spark.sparkContext.defaultParallelism
    registry._ensure_loaded()
    headline = _headline()
    if only_names is not None:
        headline = _resolve_only(only_names, headline)

    # Warm the JVM + parquet footers once so per-query numbers measure
    # the plan, not first-touch JIT/IO noise.
    registry.REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    # Per-query min over 2 round-robin passes: this VM shows
    # multi-second host pauses (observed 40-50s stalls). Back-to-back
    # repeats of one query can all land inside a single stall;
    # interleaving the passes means a stall inflates at most one pass
    # per query, and the min discards it. Spark's cache and the
    # registry's tracked persists are dropped before every run so
    # every measurement is a cold plan. (Was 3 passes
    # through round 9; the round-10 measured-exclusion sweep grew the
    # headline set 145 -> 172, so the third pass — whose min almost
    # always matched pass 2, both being warm-JIT — was dropped to keep
    # total bench wall inside the prior rounds' envelope.)
    timings: dict[str, float] = {}
    pass_times: dict[str, list[float]] = {}

    for _ in range(n_passes):
        for name in headline:
            spec = registry.REGISTRY.get(name)
            if spec is None:
                continue
            spark.catalog.clearCache()
            registry.release_persisted()
            t0 = time.perf_counter()
            spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            elapsed = time.perf_counter() - t0
            pass_times.setdefault(name, []).append(round(elapsed, 3))
            timings[name] = round(min(timings.get(name, elapsed), elapsed), 3)

    # Fixed synthetic workload (pure-JVM range sum + hash-shuffle agg,
    # data-independent): a machine-speed yardstick recorded alongside
    # the query timings so round-over-round comparisons can be
    # normalized for host variance (per-round VMs differ measurably —
    # round 4's host ran this ~1.4x slower than round 3's).
    calib = None
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 200_000_000).selectExpr("id % 1024 AS k").groupBy(
            "k"
        ).count().write.format("noop").mode("overwrite").save()
        calib = min(calib or 1e9, time.perf_counter() - t0)

    # Near-bar exclusion re-check (VERDICT r10 ask #7): the recorded
    # exclusion measurements are one host's snapshot and silently
    # stale as hosts change. Any excluded query recorded within 20%
    # of the bar gets re-measured THIS run (min-of-2, host-normalized
    # by this run's calib); one crossing the bar fails the run loudly
    # — the fix is promoting it out of BENCH_EXCLUDED, which is a
    # measured decision by construction. Skipped for --only probe
    # runs (they're not the round record).
    excluded_recheck: dict[str, float] = {}
    excluded_over_bar: dict[str, float] = {}
    if only_names is None:
        near_bar = [
            n
            for n, u in BENCH_EXCLUDED.items()
            if u >= 0.8 * _EXCLUDE_MAX_CALIB_UNITS
        ]
        for name in near_bar:
            spec = registry.REGISTRY.get(name)
            if spec is None:
                continue
            best = None
            # min-of-2, plus a third confirmation pass for a crossing:
            # on this stall-prone host a single 40-50s pause can
            # inflate both passes, and a false positive here fails the
            # round's bench record
            for attempt in range(3):
                if attempt == 2 and best / calib < _EXCLUDE_MAX_CALIB_UNITS:
                    break
                spark.catalog.clearCache()
                registry.release_persisted()
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            units = round(best / calib, 3)
            excluded_recheck[name] = units
            if units >= _EXCLUDE_MAX_CALIB_UNITS:
                excluded_over_bar[name] = units

    # Scale spot-check (VERDICT r12 ask #2): the sf0.1 full sweep is
    # per-query-overhead-bound at 32 cores (the driver's own 8-core run
    # beat the 32-core run in round 12), so plan-shape work is barely
    # visible in the headline total. This block re-times the TOP-10
    # queries of THIS run against the 10x-replica dataset the scale
    # probe already synthesizes (deterministic content perturbation,
    # linear edge density — scripts/scale_probe.py), where parallelism
    # and shuffle volume actually bind. min-of-2 interleaved, identical
    # noop-sink protocol; cold-start synthesis of the replica set is
    # excluded from every timing. Full numbers land in the detail file;
    # stdout carries one total. Failures are recorded loudly in both
    # rather than silently omitted, but never fail the record run —
    # the headline contract is unchanged.
    sf1_block: dict = {}
    if only_names is None and abs(sf - 0.1) < 1e-9:
        try:
            sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "scripts"))
            import scale_probe

            scale_probe.synthesize()  # no-op when /tmp/scale_sf1 exists
        except Exception as exc:  # record loudly, never fail the record
            sf1_block = {"error": f"{type(exc).__name__}: {exc}"[:300]}
        else:
            top10 = [
                n for n, _ in sorted(timings.items(), key=lambda kv: -kv[1])
            ][:10]
            sf1_times: dict[str, float] = {}
            sf1_errors: dict[str, str] = {}
            for _ in range(2):
                for name in top10:
                    if name in sf1_errors:
                        continue
                    spark.catalog.clearCache()
                    registry.release_persisted()
                    # per query, so one failure keeps the other timings
                    try:
                        t0 = time.perf_counter()
                        registry.REGISTRY[name].fn(
                            spark, scale_probe.SF_BIG
                        ).write.format("noop").mode("overwrite").save()
                        el = time.perf_counter() - t0
                    except Exception as exc:
                        sf1_errors[name] = f"{type(exc).__name__}: {exc}"[:300]
                        continue
                    sf1_times[name] = round(
                        min(sf1_times.get(name, el), el), 3
                    )
            sf1_block = {
                "queries": sf1_times,
                "total_sec": round(sum(sf1_times.values()), 3),
                "replicas": scale_probe.REPLICAS,
                "sf_dir": scale_probe.SF_BIG,
                "n_passes": 2,
            }
            if sf1_errors:
                sf1_block["errors"] = sf1_errors

    # Round-over-round, host-normalized (VERDICT r4 Next #6): per-round
    # VMs differ ~1.4x in raw speed, so compare (query_sec / calib_sec)
    # ratios. < 1.0 = faster this round like-for-like.
    vs_prev = {}
    prev_meta = {}
    here = os.path.dirname(os.path.abspath(__file__))
    found = _prev_record(here, sf, cpus)
    if found:
        fname, prev = found
        prev_meta = {"file": fname, "calib_sec": prev["calib_sec"]}
        for name, t in timings.items():
            pt = prev["queries"].get(name)
            if pt:
                vs_prev[name] = round((t / calib) / (pt / prev["calib_sec"]), 3)

    total = round(sum(timings.values()), 3)

    # Full per-query record goes to a file: the driver captures only the
    # last ~2000 chars of stdout, and a 132-query JSON line overflows
    # that (BENCH_r06/r07 both recorded "parsed": null from a truncated
    # tail). stdout gets ONE compact summary line (< 1.5 KB) instead.
    detail = {
        "metric": "headline_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "calib_sec": round(calib, 3),
        "n_passes": n_passes,
        "pass_times": pass_times,
    }
    if excluded_recheck:
        detail["excluded_recheck_units"] = excluded_recheck
    if sf1_block:
        detail["sf1_top10"] = sf1_block
    if vs_prev:
        detail["vs_prev_normalized"] = vs_prev
        detail["vs_prev_baseline"] = prev_meta
    # --only probe runs default to a separate file: they must never
    # silently replace the committed full-run round record
    default_detail = (
        f"BENCH_DETAIL_c{cpus}.json" if only_names is None else "BENCH_DETAIL_probe.json"
    )
    detail_path = _argval("--out") or os.path.join(here, default_detail)
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)

    vals = sorted(timings.values())
    median = vals[len(vals) // 2] if vals else 0.0
    worst5 = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:5]
    )
    ratios = sorted(vs_prev.values())
    out = {
        "metric": "headline_queries_wall",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "calib_sec": round(calib, 3),
        "cpus": cpus,
        "n_queries": len(timings),
        "n_passes": n_passes,
        "median_sec": median,
        "queries": worst5,  # worst-5 only; full dict in the detail file
        "detail_file": os.path.basename(detail_path),
    }
    if ratios:
        out["vs_prev_median_normalized"] = ratios[len(ratios) // 2]
        out["vs_prev_baseline"] = prev_meta
    if sf1_block:
        out["sf1_top10_total_sec"] = sf1_block.get("total_sec")
        if "error" in sf1_block:
            out["sf1_top10_error"] = sf1_block["error"]
        elif "errors" in sf1_block:
            out["sf1_top10_error"] = "; ".join(
                f"{n}: {e}" for n, e in sf1_block["errors"].items()
            )[:300]
    if excluded_over_bar:
        out["excluded_over_bar"] = excluded_over_bar
    print(json.dumps(out))
    spark.stop()
    if excluded_over_bar:
        raise SystemExit(
            f"excluded queries measured OVER the bar this run — promote "
            f"them out of BENCH_EXCLUDED: {excluded_over_bar}"
        )


if __name__ == "__main__":
    sys.exit(main())
