#!/usr/bin/env python
"""Min-of-N noop-sink timer for ad-hoc optimization probes.

Usage:
    python scripts/probe_time.py --passes 3 name1 name2 ...

Unlike ``bench.py --only`` this accepts ANY registered query (including
BENCH_EXCLUDED ones) and never writes the round's detail file — it is
the iterate-fast tool for the optimization loop, not the round record.
Protocol matches bench.py: noop sink, Spark cache and tracked persists
dropped per measurement, round-robin passes, min reported.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from talknet_segmentation_batchprocessing_spark import registry  # noqa: E402
from talknet_segmentation_batchprocessing_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="probe-time")
    registry._ensure_loaded()
    unknown = set(args.names) - set(registry.REGISTRY)
    assert not unknown, f"unknown queries: {sorted(unknown)}"

    # same warm-up as bench.py so first-touch JIT/IO lands outside the
    # measured region
    registry.REGISTRY["q1_pricing_summary"].fn(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()

    timings: dict[str, float] = {}
    passes: dict[str, list[float]] = {}
    for _ in range(args.passes):
        for name in args.names:
            spark.catalog.clearCache()
            registry.release_persisted()
            spark.sparkContext.setJobDescription(f"probe: {name}")
            t0 = time.perf_counter()
            registry.REGISTRY[name].fn(spark, sf_dir).write.format(
                "noop"
            ).mode("overwrite").save()
            el = time.perf_counter() - t0
            passes.setdefault(name, []).append(round(el, 3))
            timings[name] = round(min(timings.get(name, el), el), 3)
    print(json.dumps({"min": timings, "passes": passes}, indent=1))
    spark.stop()


if __name__ == "__main__":
    main()
