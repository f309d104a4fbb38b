#!/usr/bin/env python3
"""Benchmark of the engine, end to end and layer by layer.

    python3 perfbench/run.py --workload asd_mjpeg --seed 1 --seconds 21 --trace 0

Workloads (closed loop, one client, ``local[4]``):

- ``asd_mjpeg``: the paper's video -> speaking-segments batch on a
  seeded MJPEG-in-AVI + PCM corpus (perfbench/asd.py);
- ``rel_mix``: registered relational queries in a seeded order on
  synthesized tables (perfbench/relational.py).

A run's work is fixed by ``--seconds`` (whole batches or passes sized
on the 4-core reference host), so a slow host measures the same work.
With ``--trace 0`` the run is untraced and reports the end-to-end
metrics; with ``--trace 1`` it also runs the operation traced and
reports the per-layer metrics (asd_mjpeg: one untraced batch, then the
traced one; rel_mix: the traced pass between two untraced passes).
``trace.overhead_s`` is the traced minus the untraced wall.

The last line of stdout is the result object; the line before it is
the full record (host facts, samples, spans, checks, per-stage
seconds). Every file the run writes stays under ``.perfbench_work/``
next to this directory and is removed at the end, except
``asd_digests.json``: the segment digest of each asd_mjpeg seed run so
far, which later runs of the seed must reproduce.

Tests of the benchmark itself: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3
CORES = 4
WORKLOADS = ("asd_mjpeg", "rel_mix")
CALIB_ROWS = 50_000_000
QUERY_MODULES = (
    "aggregates curation_audit dataset_ops eval_arm extensions filters "
    "joins pipeline_e2e scalars setops sketches tpch windows"
).split()
END_TO_END = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
# Every traced run reports every per-layer metric; a layer the workload
# does not use reads 0. Busy seconds are summed over the traced batch
# (asd_mjpeg) or pass (rel_mix); op.*, udf.* and spark.* are per
# operation.
PER_LAYER = {
    "setup.session_s": "s",
    "setup.data_s": "s",
    "setup.warmup_s": "s",
    "trace.overhead_s": "s",
    "op.build_s": "s",
    "op.plan_s": "s",
    "op.exec_s": "s",
    "udf.busy_s": "s",
    "udf.rows": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "asd.core_util": "ratio",
    "ingest.decode_calls": "count",
    "ingest.decodes_per_video": "count",
    "ingest.decode_s": "s",
    "detect.forward_calls": "count",
    "detect.forward_s": "s",
    "detect.rows": "count",
    "score.forward_calls": "count",
    "score.forward_s": "s",
    "score.frames_scored": "count",
    "score.forward_frames_per_frame": "ratio",
    "score.builder_calls": "count",
    "scenes.s": "s",
    "track.s": "s",
    "track.tracks": "count",
    "track.kept_ratio": "ratio",
    "featurize.s": "s",
    "featurize.rows": "count",
    "segment.s": "s",
    "segment.rows": "count",
    "sink.s": "s",
    "sink.files": "count",
    **{f"queries.{m}.s": "s" for m in QUERY_MODULES},
}


class RssSampler:
    """Peak summed RSS of this process's descendants (the JVM and its
    Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _descendants_rss(self) -> int:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as f:
                        parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, IndexError, ValueError):
                    pass
        mine, frontier = set(), {os.getpid()}
        while frontier:
            frontier = {p for p, pp in parent.items() if pp in frontier} - mine
            mine |= frontier
        total = 0
        for p in mine:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._descendants_rss())
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_times() -> list[int]:
    """The machine-wide cpu line of /proc/stat: user nice system idle
    iowait irq softirq steal, in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    """Share of CPU time between two cpu_times() readings per state;
    ``steal`` is time the hypervisor gave this VM's runnable CPUs to
    someone else, which slows every run on a shared host."""
    names = ("user", "nice", "system", "idle", "iowait", "irq", "softirq", "steal")
    d = [b - a for a, b in zip(before, after)]
    total = max(sum(d), 1)
    return {n: round(x / total, 4) for n, x in zip(names, d)}


def quantile_with_ten_beyond(values: list[float]) -> tuple[float | None, float | None]:
    """(percentile, value) of the highest rank with at least ten samples
    above it, or (None, None) with fewer than eleven samples."""
    v = sorted(values)
    if len(v) < 11:
        return None, None
    rank = len(v) - 11
    return round(100.0 * (rank + 1) / len(v), 1), v[rank]


def host_facts(spark) -> dict:
    import numpy
    import pyspark

    t0 = time.perf_counter()
    spark.range(0, CALIB_ROWS).selectExpr("id % 1024 AS k").groupBy("k").count().write.format(
        "noop"
    ).mode("overwrite").save()
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "calib_s": time.perf_counter() - t0,
        "calib_rows": CALIB_ROWS,
        "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "pyspark": pyspark.__version__,
        "python": sys.version.split()[0],
        "numpy": numpy.__version__,
    }


def start_session(work: str):
    from talknet_segmentation_batchprocessing_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    # a fixed-size heap: with a growing one, peak RSS follows when G1
    # decides to expand (1.7-2.5 GB over runs of the same work)
    java_opts = (
        f"-Xms2g -Djava.io.tmpdir={tmp} -Dderby.system.home={os.path.join(work, 'derby')}"
    )
    return get_spark(
        app_name="perfbench",
        cpus=CORES,
        driver_memory="2g",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit: the JVM ends when its stdin pipe closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def run(workload_name: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    import asd
    import relational

    workload = {"asd_mjpeg": asd.Workload, "rel_mix": relational.Workload}[workload_name]()
    run_id = f"{workload_name}-{seed}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    for d in ("tmp", "cache", "local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(work, "cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        data_s = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            workload.setup_data(work, seed, rep)
            data_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        workload.warm_up(spark)
        warmup_s = time.perf_counter() - t0
        gc.collect()

        cpu0 = cpu_times()
        with RssSampler() as rss:
            rec = workload.measure(spark, work, seconds, seed, trace, run_id)
        rec["cpu_shares"] = cpu_shares(cpu0, cpu_times())
        # checked after the timed work: the oracle queries would
        # otherwise slow the first timed query
        t0 = time.perf_counter()
        checks = workload.check()
        check_s = time.perf_counter() - t0
        rec["setup"] = {
            "session_s": session_s,
            "data_s": data_s,
            "warmup_s": warmup_s,
            "check_s": check_s,
        }
        rec["setup_s"] = session_s + statistics.median(data_s) + warmup_s
        rec["peak_rss_mb"] = rss.peak / 2**20
        rec["warmup_checks"] = checks
        rec["host"] = host_facts(spark)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    return summarize(workload_name, rec, trace), rec


def summarize(workload_name: str, rec: dict, trace: bool) -> dict:
    """The result object; every failed operation and every output
    mismatch is counted, and named in ``rec["problems"]``."""
    problems = list(rec["errors"])
    if workload_name == "asd_mjpeg":
        samples = rec["walls"]
        problems += [f"batch {i}: {p}" for i, c in enumerate(rec["checks"]) for p in c["problems"]]
        failed = len(rec["errors"]) + sum(1 for c in rec["checks"] if c["problems"])
        digests = sorted({c["digest"] for c in rec["checks"]})
        if len(digests) > 1:
            problems.append(f"segment digests differ between batches: {digests}")
            failed += 1
        if rec.get("digest_history"):
            problems.append(rec["digest_history"])
            failed += 1
        rec["digest"] = digests
        wall = statistics.median(samples) if samples else 0.0
    else:
        samples = [t for v in rec["per_query_samples"].values() for t in v]
        mismatched = [
            f"{n}: {s}" for n, s in rec["warmup_checks"].items() if s not in ("ok", "no_oracle")
        ]
        problems += mismatched
        failed = len(rec["errors"]) + len(mismatched)
        wall = rec["pass_wall"]
    # the latency distribution stays in the record: on rel_mix its median
    # is one short query's time, too noisy across runs to gate on
    pct, tail = quantile_with_ten_beyond(samples)
    rec["samples"] = len(samples)
    rec["p50_s"] = statistics.median(samples) if samples else None
    rec["tail"] = {"percentile": pct, "value_s": tail}
    rec["problems"] = problems
    metrics: dict[str, dict] = {}
    if not trace:
        values = {
            "setup_s": rec["setup_s"],
            "wall_s": wall,
            "peak_rss_mb": rec["peak_rss_mb"],
        }
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    elif "per_layer" in rec:
        untraced = samples[0] if workload_name == "asd_mjpeg" and samples else wall
        per_layer = {
            "setup.session_s": rec["setup"]["session_s"],
            "setup.data_s": statistics.median(rec["setup"]["data_s"]),
            "setup.warmup_s": rec["setup"]["warmup_s"],
            "trace.overhead_s": rec["traced_wall"] - untraced,
            **rec["per_layer"],
        }
        metrics = {
            k: {"value": float(per_layer.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()
        }
    return {
        "correct": not problems,
        "attempted": max(int(rec["attempted"]), 1),
        "failed": min(failed, max(int(rec["attempted"]), 1)),
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    pkg = os.path.join(ROOT, "talknet_segmentation_batchprocessing_spark")
    if not os.path.isdir(pkg):
        print(f"engine package not found at {pkg}; run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from pyspark import cloudpickle

    import asd
    import corpus
    import relational
    import spans
    import tables

    # the plug-in wrappers are shipped to Python workers, which cannot
    # import this directory: pickle these modules' functions by value
    for mod in (asd, corpus, relational, spans, tables):
        cloudpickle.register_pickle_by_value(mod)
    result, rec = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(rec, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
