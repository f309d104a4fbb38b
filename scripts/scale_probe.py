#!/usr/bin/env python
"""Two-point scale curve for the heavy dedup/similarity queries
(VERDICT r4 Next #7): run each at sf0.1 and at a synthesized
sf1-equivalent (10x documents/embeddings) and report the wall-time
growth ratio. Sub-quadratic plans must grow well under ~12x on 10x
rows; anything above gets a root-cause note in the sidecar.

The sf1-equivalent is built by replicating the sf0.1 tables 10x with
DETERMINISTIC content perturbation that keeps replicas mutually
unrelated (every word carries its replica index; embeddings get a
seeded noise rotation), so the near-dup edge density scales linearly —
the engine is measured on 10x rows and ~10x edges, which is what the
growth ratio is meant to isolate. Nothing under /root/testdata is
touched; the synthesized tables live in /tmp.

Usage:
    python scripts/scale_probe.py            # writes SCALE_CURVE.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from talknet_segmentation_batchprocessing_spark import registry  # noqa: E402
from talknet_segmentation_batchprocessing_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = "/tmp/scale_sf1"
REPLICAS = 10

HEAVY = [
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_cc_star",
    "dedup_keep_canonical",
    "dedup_exact_substring",
    "dedup_char_ngram",
    "graph_triangle_count",
    "dedup_simhash",
    "dedup_incremental",
    "sim_lsh_bucketed",
    "dedup_semantic_keep",
    "curation_pipeline",
    "dedup_containment",
    "sketch_countmin_topk",
    "graph_pagerank",
    "dedup_keep_canonical_lsh",
    "dedup_semantic_keep_lsh",
    # round 6 additions
    "dedup_edit_distance",
    "emb_kmeans_assign",
    "dedup_line_corpus",
    "talkset_generate",
    "dedup_keep_lsh_recall",
    # round 6, second wave
    "sim_maxsim_groups",
    "emb_matryoshka_recall",
    "sim_knn_graph_lsh",
    "text_classifier_score",
    "dedup_threshold_sweep",
    # round 6, third wave
    "emb_covariance_pairs",
    "emb_pca_power",
    "classifier_auc_eval",
    "w21_attribution_linear",
    # round 7: TPC-H joins whose intermediates grow with SF (broadcast
    # hints dropped this round — measure that AQE picks a scalable
    # plan). The fact tables are key-shift replicated 10x by
    # synthesize(), so these ratios measure real relational scale-up.
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q7_volume_shipping",
    "q8_market_share",
    "q10_returned_items",
    "q13_customer_distribution",
    "q17_small_qty_revenue",
    "q18_large_volume_customers",
    "q21_waiting_suppliers",
    # the derived-partsupp family: q9 is the compound-key fact-fact
    # join (both sides SF-linear) — the heaviest TPC-H posture
    "q2_min_cost_supplier",
    "q9_product_type_profit",
    "q11_important_stock",
    "q12_shipping_modes",
    "q16_supplier_part_count",
    "q20_dominant_suppliers",
    # round 7: bounded-query one-pass mining — should scale ~linearly
    "sim_hard_negatives",
    # round 7, second wave: corpus-wide folds / shingle joins — both
    # designed linear (capped feature space; sid-keyed join)
    "dsir_importance_weights",
    "doc_ngram_novelty",
    # composed ANN: candidate volume ~ n*nprobe/K, ADC is 4 lookups
    "sim_ivfpq_topk",
    # round 7 debuts not probed in their debut round (VERDICT r7 ask 4)
    "dedup_keep_quota",
    "contamination_semantic",
    "quality_ensemble_vote",
    "curation_dsir_vs_rules",
    "sample_weighted_reservoir",
    "text_token_fertility",
    "w23_rfm_segments",
    "w24_active_users",
    # round 8: index-backed variants of the two exact-pass similarity
    # queries — the whole point is the curve vs their exact parents
    "sim_hard_negatives_ann",
    "contamination_semantic_ann",
    # round 8, second wave: DoReMi rides the two corpus-LM parents
    # (both linear); SCD2 is one user-keyed exchange over the
    # replicated events table; rank agreement exercises two adaptive
    # two-phase global ranks above the crossover
    "mix_doremi_weights",
    "u7_scd2_history",
    "quality_rank_agreement",
    # the incremental merge: bootstrap half is u7's plan, merge half
    # exchanges only seeds + delta
    "u8_scd2_merge",
    # round 8 debuts unprobed in their debut round (VERDICT r8 ask 4):
    # the BPE trainer is vocabulary-bounded by construction (only the
    # word count scan is corpus-sized) — measured, not argued
    "bpe_vocab_train",
    "bpe_encode_corpus",
    # round 9: the rebuilt decile table (two-phase rank + arithmetic
    # ntile) and the on-disk IVF index (min-of-2 measures the
    # amortized build-once/search-many posture the query documents)
    "classifier_decile_lift",
    "sim_ivf_disk_topk",
    # incremental index maintenance: seed-build + delta-append, then
    # search — min-of-2 measures the amortized search like its sibling
    "sim_ivf_disk_merge",
    # the persisted IndexIVFPQ: pruned code-partition scan + ADC
    "sim_ivfpq_disk_topk",
    # round 10 debuts: one broadcast-centroid assign pass + 2-key agg —
    # should track the corpus scan ~linearly; the compressed-index
    # incremental merge (build+append amortized, then pruned ADC
    # search); the nprobe sweep (its np=8 arm IS the brute-force
    # baseline over the bounded query batch, so growth tracks
    # |queries| x corpus — linear); and the two mixing reports
    # (source-keyed aggregates, output O(sources))
    "sim_ivf_drift_audit",
    "sim_ivfpq_disk_merge",
    "sim_nprobe_sweep",
    "mix_unimax_budgets",
    "mix_strategy_agreement",
    # round 11: the nprobe curve against the PERSISTED index — four
    # pruned scans (one per width; the widest IS the full corpus), so
    # growth tracks |queries| x corpus like the in-session sweep, with
    # the index build amortized by min-of-2
    "sim_nprobe_sweep_disk",
    # its compressed-layout sibling: same pruned scans over codes, ADC
    # scoring (4 lookups/candidate) instead of exact cosine
    "sim_nprobe_sweep_pq_disk",
    # round 11: the monitor-to-decision wiring — reads the drift
    # audit's cohort bands, output O(1)
    "sim_ivf_rebuild_decision",
]

# --x100: a third decade for the adaptive two-phase queries (VERDICT
# r9 ask #7). documents-only 100x replica set — these three queries
# read nothing else. At sf0.1 documents is 5k rows, so 100x = 500k:
# still BELOW the measured 1.5M-row crossover, meaning the default
# adaptive path stays one-phase — so each query is probed BOTH ways
# (default, and with the crossover forced to 0 so the bucketed
# two-phase plan runs) to measure what the bucketed path would cost
# when the corpus does cross.
SF_X100 = "/tmp/scale_sf100_docs"
REPLICAS_X100 = 100
X100_QUERIES = [
    "classifier_decile_lift",
    "classifier_auc_eval",
    "quality_rank_agreement",
]


# --x100-emb: a third decade for the on-disk ANN index family
# (VERDICT r10 ask #4) — the amortization claim (0.95-1.27x at 10x)
# confirmed another decade out, since the index is the 100 TB
# centerpiece. embeddings-only 100x replica set (sf0.1 embeddings is
# 2k rows, so 100x = 200k vectors); same seeded-noise de-correlation
# as the 10x set, key-shifted per replica. min-of-2 per point keeps
# the build-once/search-many amortization these queries document.
SF_X100_EMB = "/tmp/scale_sf100_emb"
X100_INDEX_QUERIES = [
    "sim_ivf_disk_topk",
    "sim_ivfpq_disk_topk",
    "sim_ivfpq_disk_merge",
]


def synthesize_x100_emb() -> None:
    os.makedirs(SF_X100_EMB, exist_ok=True)
    dst = f"{SF_X100_EMB}/embeddings.parquet"
    if os.path.exists(dst):
        return
    emb = pq.read_table(f"{SF_SMALL}/embeddings.parquet").to_pandas()
    vecs = np.stack(emb["embedding"].map(np.asarray))
    out_e = [emb]
    for k in range(1, REPLICAS_X100):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + k * 10_000_000
        rng = np.random.default_rng(5000 + k)
        noise = rng.normal(scale=1.0, size=vecs.shape).astype("float32")
        mixed = (0.3 * vecs + noise * 0.15).astype("float32")
        e["embedding"] = list(mixed)
        out_e.append(e)
    big = pd.concat(out_e, ignore_index=True)
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())]
    )
    pq.write_table(
        pa.Table.from_pandas(big, schema=schema, preserve_index=False), dst
    )
    print(f"synthesized {len(big)} vecs (x{REPLICAS_X100}) under {SF_X100_EMB}")


def probe_x100_index(spark, curve: dict) -> None:
    synthesize_x100_emb()
    for name in X100_INDEX_QUERIES:
        spec = registry.REGISTRY[name]
        entry = curve.setdefault(name, {})
        # all decade points measured fresh in THIS run (same-host
        # ratios only), under x100_-prefixed keys like probe_x100
        for label, sf_dir in (
            ("x100_base_sf0.1", SF_SMALL),
            ("x100_base_sf1", SF_BIG),
            ("x100", SF_X100_EMB),
        ):
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                registry.release_persisted()
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            entry[label] = round(best, 3)
        entry["ratio_sf1_to_x100"] = round(
            entry["x100"] / entry["x100_base_sf1"], 2
        )
        entry["ratio_x100_vs_sf0.1"] = round(
            entry["x100"] / entry["x100_base_sf0.1"], 2
        )
        print(f"  {name}: {entry}")


def synthesize_x100() -> None:
    os.makedirs(SF_X100, exist_ok=True)
    dst = f"{SF_X100}/documents.parquet"
    if os.path.exists(dst):
        return
    docs = pq.read_table(f"{SF_SMALL}/documents.parquet").to_pandas()
    out = [docs]
    for k in range(1, REPLICAS_X100):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * 10_000_000
        # one appended replica token per doc: de-ties the margin keys
        # (length/vocab features shift slightly) WITHOUT inflating the
        # vocabulary 100x — a real 100x corpus grows vocab ~sqrt
        # (Heaps), so the per-word suffixing used for the dedup 10x
        # set would overstate the vocab-keyed LM work here
        d["text"] = d["text"] + f" zreplica{k}"
        d["n_chars"] = d["text"].str.len()
        out.append(d)
    big = pd.concat(out, ignore_index=True)
    pq.write_table(pa.Table.from_pandas(big, preserve_index=False), dst)
    print(f"synthesized {len(big)} docs (x{REPLICAS_X100}) under {SF_X100}")


def probe_x100(spark, curve: dict) -> None:
    from talknet_segmentation_batchprocessing_spark.plans import two_phase

    synthesize_x100()
    for name in X100_QUERIES:
        spec = registry.REGISTRY[name]
        entry = curve.setdefault(name, {})
        # All points of the decade curve are measured FRESH in this
        # run, under x100_-prefixed keys: overwriting the batch
        # sweep's sf0.1/sf1 values (measured on a possibly different
        # host) while keeping its ratio_10x_rows would make the entry
        # internally inconsistent — ratios must only ever divide
        # numbers from the same run.
        for label, sf_dir, crossover in (
            ("x100_base_sf0.1", SF_SMALL, None),
            ("x100_base_sf1", SF_BIG, None),
            ("x100", SF_X100, None),
            ("x100_two_phase", SF_X100, 0),
        ):
            old = two_phase.CROSSOVER_ROWS
            if crossover is not None:
                two_phase.CROSSOVER_ROWS = crossover
            try:
                best = None
                for _ in range(2):
                    spark.catalog.clearCache()
                    registry.release_persisted()
                    t0 = time.perf_counter()
                    spec.fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    el = time.perf_counter() - t0
                    best = el if best is None else min(best, el)
            finally:
                two_phase.CROSSOVER_ROWS = old
            entry[label] = round(best, 3)
        entry["ratio_sf1_to_x100"] = round(
            entry["x100"] / entry["x100_base_sf1"], 2
        )
        entry["ratio_x100_vs_sf0.1"] = round(
            entry["x100"] / entry["x100_base_sf0.1"], 2
        )
        entry["two_phase_overhead_x100"] = round(
            entry["x100_two_phase"] / entry["x100"], 2
        )
        print(f"  {name}: {entry}")


# dims copied as-is (nation/region are constant-size at any SF)
TABLES = ["region", "nation"]

# SF-linear relational tables: replicated REPLICAS x with all
# surrogate keys shifted per replica, so every equi-join stays
# consistent inside its replica and the join fan-out grows linearly —
# a faithful 10x SF for the TPC-H-shaped heavies
_KEY_SHIFT = 100_000_000
_FACT_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    # user/event keys shift per replica: 10x users with the same
    # per-user activity shape, so the w23/w24 engagement windows see
    # 10x groups, not 10x-deep groups
    "events": ["event_id", "user_id"],
}


def synthesize() -> None:
    os.makedirs(SF_BIG, exist_ok=True)
    for t in TABLES:
        dst = f"{SF_BIG}/{t}.parquet"
        if not os.path.exists(dst):
            shutil.copy(f"{SF_SMALL}/{t}.parquet", dst)

    for t, keys in _FACT_KEYS.items():
        dst = f"{SF_BIG}/{t}.parquet"
        if os.path.exists(dst):
            continue
        src = pq.read_table(f"{SF_SMALL}/{t}.parquet")
        base = src.to_pandas()
        out = [base]
        for k in range(1, REPLICAS):
            d = base.copy()
            for c in keys:
                d[c] = d[c] + k * _KEY_SHIFT
            out.append(d)
        big = pd.concat(out, ignore_index=True)
        pq.write_table(
            pa.Table.from_pandas(big, schema=src.schema, preserve_index=False),
            dst,
        )
        print(f"replicated {t}: {len(base)} -> {len(big)} rows")

    docs = pq.read_table(f"{SF_SMALL}/documents.parquet").to_pandas()
    n_docs = len(docs)
    out = [docs]
    for k in range(1, REPLICAS):
        d = docs.copy()
        d["doc_id"] = d["doc_id"] + k * 10_000_000
        # every word carries the replica index: replicas share no
        # shingles with each other, so edge count scales linearly
        d["text"] = d["text"].map(
            lambda t, k=k: " ".join(w + str(k) for w in t.split())
        )
        d["n_chars"] = d["text"].str.len()
        out.append(d)
    big_docs = pd.concat(out, ignore_index=True)
    pq.write_table(
        pa.Table.from_pandas(big_docs, preserve_index=False),
        f"{SF_BIG}/documents.parquet",
    )

    emb = pq.read_table(f"{SF_SMALL}/embeddings.parquet").to_pandas()
    vecs = np.stack(emb["embedding"].map(np.asarray))
    out_e = [emb]
    for k in range(1, REPLICAS):
        e = emb.copy()
        e["vec_id"] = e["vec_id"] + k * 10_000_000
        rng = np.random.default_rng(1000 + k)
        noise = rng.normal(scale=1.0, size=vecs.shape).astype("float32")
        mixed = (0.3 * vecs + noise * 0.15).astype("float32")
        e["embedding"] = list(mixed)
        out_e.append(e)
    big_emb = pd.concat(out_e, ignore_index=True)
    schema = pa.schema(
        [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
         ("label", pa.int32())]
    )
    pq.write_table(
        pa.Table.from_pandas(big_emb, schema=schema, preserve_index=False),
        f"{SF_BIG}/embeddings.parquet",
    )
    print(f"synthesized {len(big_docs)} docs / {len(big_emb)} vecs "
          f"({n_docs} x {REPLICAS}) under {SF_BIG}")


def main() -> int:
    synthesize()
    spark = get_spark(app_name="scale-probe")
    registry._ensure_loaded()
    # warm
    registry.REGISTRY["q1_pricing_summary"].fn(spark, SF_SMALL).write.format(
        "noop"
    ).mode("overwrite").save()

    curve: dict[str, dict] = {}
    out_path = os.path.join(os.path.dirname(__file__), "..", "SCALE_CURVE.json")
    # --only / --x100 / --x100-emb: rerun a subset and merge into the
    # existing curve (the batch sweep is ~25 min; don't repeat it to
    # refresh a few entries)
    heavy = HEAVY
    if "--only" in sys.argv or "--x100" in sys.argv or "--x100-emb" in sys.argv:
        heavy = []
        if "--only" in sys.argv:
            heavy = sys.argv[sys.argv.index("--only") + 1].split(",")
        try:
            with open(out_path) as f:
                old = json.load(f).get("queries", {})
            # every probe measures registered queries only: an entry for
            # a name no longer registered is stale and is not carried
            curve = {k: v for k, v in old.items() if k in registry.REGISTRY}
        except Exception:
            pass
    for name in heavy:
        spec = registry.REGISTRY[name]
        times = {}
        for label, sf_dir in (("sf0.1", SF_SMALL), ("sf1", SF_BIG)):
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                registry.release_persisted()
                t0 = time.perf_counter()
                spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                el = time.perf_counter() - t0
                best = el if best is None else min(best, el)
            times[label] = round(best, 3)
        ratio = round(times["sf1"] / times["sf0.1"], 2)
        curve[name] = {**times, "ratio_10x_rows": ratio}
        print(f"  {name}: {times['sf0.1']}s -> {times['sf1']}s  ({ratio}x)")

    # third decade for the adaptive two-phase queries (VERDICT r9 ask
    # #7): --x100 reruns just those three and merges into the curve
    if "--x100" in sys.argv:
        probe_x100(spark, curve)

    # third decade for the on-disk ANN index family (VERDICT r10 ask
    # #4): --x100-emb reruns just those three and merges into the curve
    if "--x100-emb" in sys.argv:
        probe_x100_index(spark, curve)

    sidecar = {
        "metric": "scale_curve_10x",
        "replicas": REPLICAS,
        "note": "10x documents/embeddings with linear edge density and "
        "10x key-shifted TPC-H fact tables; ratio_10x_rows is wall "
        "growth on 10x input — sub-quadratic plans stay well under ~12x",
        "queries": curve,
    }
    with open(out_path, "w") as f:
        json.dump(sidecar, f, indent=2)
    ratios = [
        c["ratio_10x_rows"] for c in curve.values() if "ratio_10x_rows" in c
    ]
    print(json.dumps({"written": "SCALE_CURVE.json",
                      "max_ratio": max(ratios) if ratios else None}))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
