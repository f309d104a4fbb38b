"""rel_mix: registered relational queries, one at a time, closed loop.

The mix holds one cheap query of each of 13 query modules, where the
fixed per-query cost (driver round-trips, planning, job launch)
dominates. The image_dedup module's one query (a pure-numpy JPEG decode
in mapInPandas) is left out: it took a quarter of a pass and most of
its spread, and its decode work is what asd_mjpeg measures.
Every query is forced with the noop sink after its caches are dropped,
as bench.py does. The tables are synthesized from a fixed seed; the
workload seed only sets the order of the queries within a pass.

Warm-up is one cold pass that collects every result (kept for the
oracle check) and ``WARM_PASSES`` untimed noop passes: the JIT keeps
speeding queries up for several passes after the cold one, and timing
that settling measured how fast the compiler threads got CPU, not the
queries.
"""

from __future__ import annotations

import hashlib
import os
import random
import statistics
import time

import tables
from spans import JobStats, Tracer

SF = 0.001
# wall time of one warm pass over the mix on the 4-core reference host
NOMINAL_PASS_S = 2.6
# passes in an untraced run at least, so each query's median has samples
# on both sides
MIN_PASSES = 8
# untimed noop passes after the cold pass
WARM_PASSES = 3
TABLE_SEED = 42
MIX = [
    "q6_forecast_revenue",  # tpch
    "f7_isin_filter",  # filters
    "x10_frame_seconds",  # scalars
    "a9_energy_db",  # aggregates
    "j7_anti_equality_pair",  # joins
    "u1_union_all",  # setops
    "w8_global_sort_limit",  # windows
    "sketch_quantile_sampled",  # sketches
    "x15_softmax_argmax",  # eval_arm
    "m2_scene_change_islands",  # pipeline_e2e: lag window + aggregation
    "mix_temperature_sampling",  # curation_audit
    "dedup_exact",  # extensions: exact-duplicate aggregation
    "text_normalize",  # dataset_ops
]


def canon_digest(df) -> tuple[str, dict[str, str], int]:
    """(sha256 of the canonical form, coarse dtype per column, rows) —
    the canonical form is oracle_compare.canon: columns sorted by name,
    dtypes normalized, rows stable-sorted."""
    from talknet_segmentation_batchprocessing_spark.oracle_compare import canon, dtype_map

    dtypes = dtype_map(df)
    c = canon(df)
    h = hashlib.sha256("\x1f".join(c.columns).encode())
    for col in c.columns:
        for v in c[col].tolist():
            h.update(repr(_plain(v)).encode())
            h.update(b"\x1e")
    return h.hexdigest(), dtypes, len(c)


def _plain(v):
    if hasattr(v, "tolist"):
        v = v.tolist()
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if v is None or (isinstance(v, float) and v != v):
        return None
    return v


def _module(spec) -> str:
    return spec.fn.__module__.rsplit(".", 1)[-1]


class Workload:
    name = "rel_mix"

    def setup_data(self, work: str, seed: int, rep: int) -> None:
        self.sf_dir = os.path.join(work, f"tables{rep}")
        tables.write_tables(self.sf_dir, SF, TABLE_SEED)

    def _reset(self, spark) -> None:
        """Drop every cache a query could reuse from an earlier one: the
        Spark cache and the registry's tracked persists."""
        from talknet_segmentation_batchprocessing_spark import registry

        spark.catalog.clearCache()
        registry.release_persisted()

    def warm_up(self, spark) -> None:
        """One pass over the mix in listed order, collecting every result
        (kept for the oracle check), then ``WARM_PASSES`` noop passes."""
        from talknet_segmentation_batchprocessing_spark import registry

        registry._ensure_loaded()
        self.specs = [registry.REGISTRY[n] for n in MIX]
        self.results: dict[str, object] = {}
        self.warm_s: dict[str, float] = {}
        for spec in self.specs:
            self._reset(spark)
            t0 = time.perf_counter()
            try:
                self.results[spec.name] = spec.fn(spark, self.sf_dir).toPandas()
            except Exception as exc:  # recorded, checked as a mismatch
                self.results[spec.name] = exc
            self.warm_s[spec.name] = time.perf_counter() - t0
        for _ in range(WARM_PASSES):
            self._pass(spark, self.specs, Tracer("warm-up", enabled=False), None, "", {}, [])

    def check(self) -> dict[str, str]:
        """Each warm-up result against its DuckDB oracle on the same
        tables: equal canonical digest, coarse dtypes and row count."""
        import duckdb

        con = duckdb.connect()
        try:
            for t in tables.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
            status = {}
            for spec in self.specs:
                got = self.results[spec.name]
                if isinstance(got, Exception):
                    status[spec.name] = f"error: {type(got).__name__}: {got}"[:300]
                elif spec.oracle is None:
                    status[spec.name] = "no_oracle"
                else:
                    want = canon_digest(con.execute(spec.oracle).df())
                    status[spec.name] = "ok" if canon_digest(got) == want else "mismatch"
            return status
        finally:
            con.close()

    def _run_query(self, spark, spec, tracer: Tracer) -> None:
        with tracer.span(spec.name):
            with tracer.span("build"):
                df = spec.fn(spark, self.sf_dir)
            if tracer.enabled:
                with tracer.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tracer.span("exec"):
                df.write.format("noop").mode("overwrite").save()

    def _pass(self, spark, order, tracer: Tracer, jobs: JobStats | None, run_id: str,
              lat: dict, errors: list) -> int:
        sc = spark.sparkContext
        for spec in order:
            self._reset(spark)
            if jobs is not None:
                sc.setJobGroup(f"{run_id}-{spec.name}", spec.name)
            t0 = time.perf_counter()
            try:
                self._run_query(spark, spec, tracer)
                lat.setdefault(spec.name, []).append(time.perf_counter() - t0)
            except Exception as exc:  # a failed query is recorded, the pass goes on
                errors.append(f"{spec.name}: {type(exc).__name__}: {exc}"[:400])
        if jobs is not None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(order)

    def measure(self, spark, work: str, seconds: float, seed: int, trace: bool, run_id: str) -> dict:
        order = list(self.specs)
        random.Random(seed).shuffle(order)
        lat: dict[str, list[float]] = {}
        errors: list[str] = []
        untraced = Tracer(run_id, enabled=False)
        # a fixed number of passes per --seconds, not a clock-driven
        # count: a slow host must not measure less work than a fast one.
        # A traced run puts its traced pass between two untraced ones, so
        # the JIT warming that goes on from pass to pass does not show as
        # tracing overhead.
        n_pass = 2 if trace else max(MIN_PASSES, round(seconds / NOMINAL_PASS_S))
        attempted = 0
        traced = {}
        for i in range(n_pass):
            attempted += self._pass(spark, order, untraced, None, run_id, lat, errors)
            if trace and i == 0:
                traced = self._traced_pass(spark, order, run_id, errors)
                attempted += len(order)
        per_query = {n: statistics.median(v) for n, v in lat.items()}
        return {
            "per_query_s": per_query,
            "per_query_samples": lat,
            "passes": n_pass,
            "errors": errors,
            "attempted": attempted,
            "pass_wall": sum(per_query.values()),
            "warmup_query_s": self.warm_s,
            **traced,
        }

    def _traced_pass(self, spark, order, run_id: str, errors: list) -> dict:
        tracer = Tracer(run_id)
        jobs = JobStats(spark.sparkContext)
        traced_lat: dict[str, list[float]] = {}
        self._pass(spark, order, tracer, jobs, run_id, traced_lat, errors)
        self_t = tracer.self_times()
        phase = {"build": 0.0, "plan": 0.0, "exec": 0.0}
        for s, t in zip(tracer.spans, self_t):
            if s.name in phase:
                phase[s.name] += t
        counts = {"jobs": 0, "stages": 0, "tasks": 0}
        for spec in order:
            for k, v in jobs.count(f"{run_id}-{spec.name}").items():
                counts[k] += v
        traced_wall = max(sum(v[0] for v in traced_lat.values()), 1e-9)
        n_ok = max(len(traced_lat), 1)
        by_module: dict[str, float] = {}
        for spec in order:
            if spec.name in traced_lat:
                m = _module(spec)
                by_module[m] = by_module.get(m, 0.0) + traced_lat[spec.name][0]
        return {
            "traced_wall": traced_wall,
            "spans": tracer.dump(),
            "jobs": counts,
            "per_layer": {
                "op.build_s": phase["build"] / n_ok,
                "op.plan_s": phase["plan"] / n_ok,
                "op.exec_s": phase["exec"] / n_ok,
                "spark.jobs": counts["jobs"] / n_ok,
                "spark.stages": counts["stages"] / n_ok,
                "spark.tasks": counts["tasks"] / n_ok,
                **{f"queries.{m}.s": v for m, v in sorted(by_module.items())},
            },
            "layer_seconds": {
                "query.build_s": phase["build"],
                "query.plan_s": phase["plan"],
                "query.exec_s": phase["exec"],
            },
        }
