"""Per-layer tracing from outside the engine.

The tracer wraps the public functions of each layer module in the
namespace where its caller looks the name up, and records one span per
call: name, start, end, parent span, thread. Each span tags the Spark jobs
its thread starts with a job group, so every job of an iteration maps to
the innermost open span of the thread that started it; jobs started
outside any span belong to the iteration. Stage metrics come from the
status store (``statusStore().lastStageAttempt``).

Two layers do their work inside executor tasks, after the wrapped
function has returned a lazy plan: the 25-property kernel and the kNN
search kernel. For those, the driver-side wrapper is replaced by a
closure that the plan ships to the Python workers; it times the kernel
and counts objects/queries into Spark accumulators.

A layer's seconds are the wall time its spans cover (the union of their
intervals, so concurrent or nested calls are not counted twice);
``properties.s`` and ``knn.s`` add the executor kernel seconds, summed
over tasks. Spans inside a checkpoint stage count for both layers.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import statistics
import threading
import time
from contextlib import contextmanager

PKG = "geospatial_object_matching_spark"
MB = 1e6

# (module, attribute, span name): the attribute is replaced by a wrapper
# that records a span around each call
SPAN_PATCHES = [
    ("operators.properties", "pages_to_properties", "properties.plan"),
    ("operators.blocking", "property_ratio_stats", "blocking.feature_order"),
    ("operators.scaler", "robust_scaler_fit", "scaler.fit"),
    ("operators.blocking", "robust_scaler_fit", "scaler.fit"),
    ("operators.matching", "robust_scaler_fit", "scaler.fit"),
    ("plans.pipeline", "knn_join", "knn.join"),
    ("operators.blocking", "knn_join", "knn.join"),
    ("operators.knn", "knn_join_broadcast", "knn.broadcast"),
    ("operators.knn", "knn_join_range", "knn.range"),
    ("plans.pipeline", "matched_pair_vectors", "matching.thresholds"),
    ("operators.matching", "matched_pair_vectors", "matching.thresholds"),
    ("plans.pipeline", "percentile_thresholds", "matching.thresholds"),
    ("operators.matching", "percentile_thresholds", "matching.thresholds"),
    ("plans.pipeline", "threshold_stats", "matching.threshold_stats"),
    ("operators.matching", "threshold_stats", "matching.threshold_stats"),
    ("plans.pipeline", "pair_features", "matching.pair_features"),
    ("operators.matching", "pair_features", "matching.pair_features"),
]


def _properties_kernel(acc_s, acc_cpu, acc_n):
    """Executor-side stand-in for ``compute_properties_batch``."""

    def compute_properties_batch(coords_list, offsets_list, *args, **kwargs):
        from geospatial_object_matching_spark.functions import geometry

        t, c = time.perf_counter(), time.process_time()
        out = geometry.compute_properties_batch(coords_list, offsets_list, *args, **kwargs)
        acc_s.add(time.perf_counter() - t)
        acc_cpu.add(time.process_time() - c)
        acc_n.add(len(coords_list))
        return out

    return compute_properties_batch


def _knn_kernel(acc_s, acc_q, acc_c):
    """Executor-side stand-in for the kNN module's batch searcher factory:
    times building the searcher and every search, counts queries and the
    candidates returned."""

    def make_batch_searcher(*args, **kwargs):
        # in the worker the module is unpatched: this is the original
        from geospatial_object_matching_spark.operators import knn

        t = time.perf_counter()
        search_many = knn._make_batch_searcher(*args, **kwargs)
        acc_s.add(time.perf_counter() - t)

        def search(queries, *a, **kw):
            t = time.perf_counter()
            res = search_many(queries, *a, **kw)
            acc_s.add(time.perf_counter() - t)
            acc_q.add(len(queries))
            acc_c.add(sum(len(r[0]) for r in res))
            return res

        return search

    return make_batch_searcher


def union_length(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def minus_length(intervals, holes) -> float:
    """Length of union(intervals) not covered by union(holes)."""
    both = [(max(a, c), min(b, d)) for a, b in intervals for c, d in holes]
    covered = union_length([(a, b) for a, b in both if b > a])
    return union_length(intervals) - covered


class Tracer:
    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._patches: list[tuple[object, str, object]] = []
        acc = self.sc.accumulator
        self.acc = {
            "props_s": acc(0.0), "props_cpu": acc(0.0), "props_n": acc(0),
            "knn_s": acc(0.0), "knn_q": acc(0), "knn_c": acc(0),
        }
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}

    # -- spans --------------------------------------------------------

    def _stack(self) -> list[dict]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _tag(self, stack) -> None:
        if stack:
            self.sc.setJobGroup(f"pb-{stack[-1]['id']}", stack[-1]["name"])
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        stack = self._stack()
        s = {"id": next(self._ids), "name": name, "parent": stack[-1]["id"] if stack else 0,
             "thread": threading.get_ident(), "start": time.time(), **attrs}
        stack.append(s)
        self._tag(stack)
        try:
            yield s
        finally:
            s["end"] = time.time()
            stack.pop()
            self._tag(stack)
            self.spans.append(s)

    def add_count(self, name: str, n: int) -> None:
        if self.active:
            self.counts[name] = self.counts.get(name, 0) + n

    def _wrap(self, name, fn, attrs=None):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name, **(attrs(args) if attrs else {})):
                return fn(*args, **kwargs)

        return wrapped

    # -- patches ------------------------------------------------------

    def _patch(self, owner, attr, new) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def install(self) -> None:
        for mod, attr, name in SPAN_PATCHES:
            m = importlib.import_module(f"{PKG}.{mod}")
            self._patch(m, attr, self._wrap(name, getattr(m, attr)))
        ckpt = importlib.import_module(f"{PKG}.sources.checkpoint").CheckpointManager
        self._patch(ckpt, "run_stage",
                    self._wrap("checkpoint.stage", ckpt.run_stage, lambda a: {"stage": a[1]}))
        a = self.acc
        props = importlib.import_module(f"{PKG}.operators.properties")
        self._patch(props, "compute_properties_batch",
                    _properties_kernel(a["props_s"], a["props_cpu"], a["props_n"]))
        knn = importlib.import_module(f"{PKG}.operators.knn")
        self._patch(knn, "_make_batch_searcher", _knn_kernel(a["knn_s"], a["knn_q"], a["knn_c"]))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, old = self._patches.pop()
            setattr(owner, attr, old)

    # -- one traced iteration -----------------------------------------

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_id_now(self) -> int:
        """The id the scheduler gives the next job."""
        return self.sc._jsc.sc().dagScheduler().nextJobId()

    @contextmanager
    def iteration(self):
        """Trace one iteration; the per-layer values land in ``self.last``."""
        self._drain()
        first_job = self._job_id_now()
        self.spans, self.counts = [], {}
        acc0 = {k: v.value for k, v in self.acc.items()}
        self.install()
        self.active = True
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            self.active = False
            self.uninstall()
            self._drain()
        acc = {k: v.value - acc0[k] for k, v in self.acc.items()}
        self.last = self._layers(t0, t1, acc, range(first_job, self._job_id_now()))

    def _read_jobs(self, job_ids):
        store = self.sc._jsc.sc().statusStore()
        jobs, stage_ids = [], set()
        for j in map(store.job, job_ids):
            g = j.jobGroup()
            group = g.get() if g.isDefined() else ""
            sids = [j.stageIds().apply(i) for i in range(j.stageIds().length())]
            jobs.append({
                "span": int(group[3:]) if group.startswith("pb-") else 0,
                "start": j.submissionTime().get().getTime() / 1000.0,
                "end": j.completionTime().get().getTime() / 1000.0,
                "stages": sids,
            })
            stage_ids.update(sids)
        stages = {}
        for sid in stage_ids:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # py4j error: stage never attempted
                continue
            if not s.submissionTime().isDefined():
                continue  # skipped: its work was done by an earlier job
            stages[sid] = {
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1e3,
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                "output": s.outputBytes(),
            }
        return jobs, stages

    def _layers(self, t0: float, t1: float, acc: dict, job_ids) -> dict:
        jobs, stages = self._read_jobs(job_ids)
        spans = self.spans
        by_id = {s["id"]: s for s in spans}

        def within(s, names) -> bool:
            """s or one of its ancestors is named in ``names``."""
            while s is not None:
                if s["name"] in names:
                    return True
                s = by_id.get(s["parent"])
            return False

        def busy(pred) -> float:
            return union_length([(s["start"], s["end"]) for s in spans if pred(s)])

        def named(name):
            return lambda s: s["name"] == name

        def calls(name) -> int:
            return sum(1 for s in spans if s["name"] == name
                       and not within(by_id.get(s["parent"]), {name}))

        def stage_sum(key, job_list) -> float:
            sids = {sid for j in job_list for sid in j["stages"]}
            return sum(stages[sid][key] for sid in sids if sid in stages)

        def jobs_in(names):
            return [j for j in jobs if j["span"] and within(by_id.get(j["span"]), names)]

        def read_back_jobs(span) -> int:
            """Jobs a checkpoint stage starts after its write finished."""
            own = [j for j in jobs if j["span"] == span["id"]]
            written = max((j["end"] for j in own if stage_sum("output", [j])), default=0.0)
            return sum(1 for j in own if j["start"] >= written)

        ckpt_spans = [s for s in spans if s["name"] == "checkpoint.stage"]
        wall = t1 - t0
        job_iv = [(j["start"], j["end"]) for j in jobs]
        layer_iv = [(s["start"], s["end"]) for s in spans if not s["name"].startswith("bench.")]
        run_s = stage_sum("run_s", jobs)
        props_n, knn_q = acc["props_n"], acc["knn_q"]
        return {
            "properties.s": busy(named("properties.plan")) + acc["props_s"],
            "properties.cpu_s": acc["props_cpu"],
            "properties.objects": props_n,
            "properties.ms_per_object": 1e3 * acc["props_s"] / props_n if props_n else 0.0,
            "blocking.feature_order_s": busy(named("blocking.feature_order")),
            "blocking.feature_order_shuffle_mb":
                stage_sum("shuffle_write", jobs_in({"blocking.feature_order"})) / MB,
            "scaler.fit_s": busy(named("scaler.fit")),
            "scaler.fit_calls": calls("scaler.fit"),
            "knn.s": busy(named("knn.join")) + acc["knn_s"],
            "knn.queries": knn_q,
            "knn.us_per_query": 1e6 * acc["knn_s"] / knn_q if knn_q else 0.0,
            "knn.candidates": acc["knn_c"],
            "knn.broadcast_calls": calls("knn.broadcast"),
            "knn.range_calls": calls("knn.range"),
            "matching.thresholds_s": busy(named("matching.thresholds")),
            "matching.threshold_stats_s": busy(named("matching.threshold_stats")),
            "matching.pair_features_s": busy(
                lambda s: s["name"] in ("matching.pair_features", "bench.count_pair_features")
                or s.get("stage") == "pair_features"),
            "matching.pair_rows": self.counts.get("matching.pair_rows", 0),
            "checkpoint.stage_s": busy(named("checkpoint.stage")),
            "checkpoint.written_mb": stage_sum("output", jobs_in({"checkpoint.stage"})) / MB,
            "checkpoint.count_jobs": sum(map(read_back_jobs, ckpt_spans)),
            "pipeline.spark_jobs": len(jobs),
            "pipeline.no_job_s": wall - union_length(
                [(max(a, t0), min(b, t1)) for a, b in job_iv if min(b, t1) > max(a, t0)]),
            "pipeline.plan_s": minus_length(layer_iv, job_iv),
            "spark.executor_run_s": run_s,
            "spark.executor_cpu_s": stage_sum("cpu_s", jobs),
            "spark.gc_s": stage_sum("gc_s", jobs),
            "spark.shuffle_read_mb": stage_sum("shuffle_read", jobs) / MB,
            "spark.shuffle_write_mb": stage_sum("shuffle_write", jobs) / MB,
            "spark.spill_mb": stage_sum("spill", jobs) / MB,
            "spark.core_util": run_s / (wall * self.cores),
        }


def geometry_kernel_timing(seed: int, entities: int = 120, repeats: int = 5) -> dict:
    """Driver-process timing of the geometry kernels on a fixed seeded
    batch of decoded meshes: the whole 25-property batch kernel and the
    exact 3-D hull alone (median of ``repeats`` passes)."""
    import numpy as np

    from geospatial_object_matching_spark.functions.geometry import (
        compute_properties_batch,
        convex_hull_3d_volume,
    )
    from geospatial_object_matching_spark.operators.extract import parse_pages_batch
    from geospatial_object_matching_spark.sources.pages import generate_pages_pdf

    parsed = list(parse_pages_batch(generate_pages_pdf(entities, seed)))
    coords = [p[5] for p in parsed]
    offsets = [p[6] for p in parsed]
    verts = [np.unique(np.asarray(c, dtype=np.float64).reshape(-1, 3), axis=0) for c in coords]

    def per_object_ms(fn) -> float:
        times = []
        for _ in range(repeats):
            t = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t)
        return 1e3 * statistics.median(times) / len(coords)

    return {
        "geometry.ms_per_object": per_object_ms(
            lambda: compute_properties_batch(coords, offsets, log1p=True)),
        "geometry.hull3d_ms_per_object": per_object_ms(
            lambda: [convex_hull_3d_volume(v, assume_unique=True) for v in verts]),
    }
